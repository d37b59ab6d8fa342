"""In-process timing of the pure-Python scan kernels, no Spark.

Feeds each ``duckdb_behavioral_spark.kernels`` function the per-user
groups of the workload's ``events`` table, sorted by time, with the
same conditions and parameters as the core query that runs it on the
grouped engine. Reports single-threaded ns per event passed in. The
gap to the matching ``operators.*`` figure is the engine's overhead.
"""

from __future__ import annotations

import time

import numpy as np

# Rust per-core ns/elem of the reference (BASELINE.md), for the ratios.
BASELINE_NS = {
    "sessionize": 1.20, "retention": 2.74, "window_funnel": 7.91,
    "sequence_match": 10.5, "sequence_count": 11.8,
    "sequence_match_events": 10.7, "sequence_next_node": 54.6,
}

# kernel metric -> the reference function whose baseline it sits next to
KERNEL_BASELINE = {
    "funnel": "window_funnel", "funnel_mode": "window_funnel",
    "pattern_adjacent": "sequence_match", "pattern_nfa": "sequence_match",
    "pattern_events": "sequence_match_events", "next_node": "sequence_next_node",
}


def _groups(events_path: str, max_events: int):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(events_path, columns=["user_id", "ts", "event_type"])
    t = t.take(pc.sort_indices(t, [("user_id", "ascending"), ("ts", "ascending")]))
    users = t["user_id"].to_numpy()
    ts = t["ts"].cast("int64").to_numpy()
    etype = np.asarray(t["event_type"].to_pylist(), dtype=object)
    starts = np.flatnonzero(np.r_[True, users[1:] != users[:-1]])
    bounds = np.r_[starts, len(users)]
    out, total = [], 0
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        out.append((ts[lo:hi], etype[lo:hi]))
        total += hi - lo
        if total >= max_events:
            break
    return out


def _mask(etype, conds):
    m = np.zeros(len(etype), dtype=np.int64)
    for i, c in enumerate(conds):
        m |= (etype == c).astype(np.int64) << i
    return m


def probe(events_path: str, max_events: int = 60_000) -> dict:
    """Returns ``{kernel: ns_per_event}`` over the first groups of the
    table holding about ``max_events`` events."""
    from duckdb_behavioral_spark.kernels import funnel, next_node, pattern

    groups = _groups(events_path, max_events)
    h1, h2 = 3_600_000_000, 7_200_000_000
    fmode = funnel.parse_modes("strict_increase, strict_once")
    adjacent = pattern.parse_pattern("(?1)(?2)")
    nfa = pattern.parse_pattern("(?1)(?t!=0)(?2).*(?t>=600)(?3)")
    chain = pattern.parse_pattern("(?1).*(?2)")

    def prep(conds, keep_all=False):
        """Per group (ts, mask, values, base) restricted, like the
        operators, to events meeting at least one condition."""
        res = []
        for ts, et in groups:
            m = _mask(et, conds)
            sel = slice(None) if keep_all else m != 0
            res.append((ts[sel], m[sel], et[sel]))
        return res

    vcp = prep(["view", "click", "purchase"])
    vp = prep(["view", "purchase"])
    sv = prep(["signup", "view"], keep_all=True)
    cases = {
        "funnel": (vcp, lambda ts, m, v: funnel.funnel_max_step(ts, m, h1, 3, 0)),
        "funnel_mode": (vcp, lambda ts, m, v: funnel.funnel_max_step(ts, m, h2, 3, fmode)),
        "pattern_adjacent": (vp, lambda ts, m, v: pattern.execute_pattern(adjacent, ts, m, False)),
        "pattern_nfa": (vcp, lambda ts, m, v: pattern.execute_pattern(nfa, ts, m, False)),
        "pattern_events": (vp, lambda ts, m, v: pattern.execute_pattern_events(chain, ts, m)),
        "next_node": (sv, lambda ts, m, v: next_node.next_node(
            v, (m & 1).astype(bool), m, "forward", "first_match", 2)),
    }
    out = {}
    for name, (data, fn) in cases.items():
        n = sum(len(ts) for ts, _, _ in data)
        t0 = time.perf_counter_ns()
        for ts, m, v in data:
            fn(ts, m, v)
        out[name] = (time.perf_counter_ns() - t0) / max(n, 1)
    return out

