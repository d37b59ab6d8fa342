"""Workload definitions: which queries run, over which generated input.

Both workloads are closed loop: one client runs the queries back to
back in one ``local[nproc]`` session and sends the next only when the
last has finished. Why each was chosen is in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from perfbench import inputs

# sf0.1-sized events, the shape of the repository's testdata; every
# workload's events table has this size
SF01_EVENTS, SF01_USERS = 100_000, 1_500
# Generator seed of the pipeline inputs, which do not vary with --seed:
# their dedup reference is costly, so it is computed once per checkout.
FIXED_SEED = 42
# Pipeline input rows. sf0.1 has 5,000 documents and 2,000 embeddings,
# but DuckDB's dedup oracle needs about five minutes on 5,000
# documents, more than one run may take (about 20 s on 300). The two
# queries launch the same jobs (27 + 5 and 3 + 6) at either size.
PIPELINE_DOCS, PIPELINE_VECS = 300, 2_000

# One core query per reference function, and the function it runs.
FUNCTION_QUERIES = {
    "q1_sessionize": "sessionize",
    "q2_retention": "retention",
    "q3_window_funnel": "window_funnel",
    "q5_sequence_match_adjacent": "sequence_match",
    "q7_sequence_count": "sequence_count",
    "q8_sequence_match_events": "sequence_match_events",
    "q9_next_node_forward": "sequence_next_node",
}


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    # the input tables, by name
    tables: tuple[str, ...]
    # seed -> {table name: pyarrow Table}
    make: Callable[[int], dict]
    # seed -> cache key of the generated input and its reference results
    input_key: Callable[[int], str]
    # Warm pass wall on 4 vCPUs (Xeon, 15 GB). A run makes
    # --seconds / pass_s warm passes, the same count in every run, so
    # that the passes' median always falls at the same place on the
    # JIT warm-up curve, however fast the box is at the time.
    pass_s: float


WORKLOADS = {
    # the reference's own surface at the bench scale (sf0.1)
    "core_sf01": Workload(
        queries=tuple(FUNCTION_QUERIES),
        tables=("events",),
        make=lambda seed: {"events": inputs.events(seed, SF01_EVENTS, SF01_USERS)},
        input_key=lambda seed: f"seed{seed}",
        pass_s=3.4,
    ),
    # training-data pipeline queries built from many eager barriers;
    # the documents and embeddings have sf0.1's shape, but fewer rows
    "pipeline_sf01": Workload(
        queries=("dedup_cluster_sizes", "ann_ivf_kmeans_topk"),
        tables=("events", "documents", "embeddings"),
        make=lambda seed: {
            "events": inputs.events(FIXED_SEED, SF01_EVENTS, SF01_USERS),
            "documents": inputs.documents(FIXED_SEED, PIPELINE_DOCS),
            "embeddings": inputs.embeddings(FIXED_SEED, PIPELINE_VECS),
        },
        input_key=lambda seed: "fixed",
        pass_s=6.3,
    ),
}
