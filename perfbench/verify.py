"""Reference results and output checks.

The reference for every query is its DuckDB oracle SQL from
``registry.all_oracles()``, run over the same parquet the program read.
It is computed once per input and cached as parquet under the
benchmark's work directory; the cache key covers the input and the
oracle text, so a changed oracle or input is recomputed.

Outputs are compared as multisets of rows, vectorised in DuckDB over
Arrow: Spark's ``toArrow()`` against the cached reference. Column names
must match; values are compared after a canonical projection (doubles
to nine significant digits, timestamps and dates to epoch micros, the
rest as text), so integer widths and timezone tags do not count.
"""

from __future__ import annotations

import hashlib
import os
import tempfile


def reference_path(cache_dir: str, name: str, sql: str) -> str:
    digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
    return os.path.join(cache_dir, f"{name}-{digest}.parquet")


def _register_inputs(con, data_dir: str) -> None:
    """One view per ``<table>.parquet`` file."""
    for entry in os.listdir(data_dir):
        table, ext = os.path.splitext(entry)
        if ext == ".parquet":
            path = os.path.join(data_dir, entry)
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")


def compute_references(data_dir: str, cache_dir: str, threads: int, names) -> None:
    import duckdb
    import pyarrow.parquet as pq

    from duckdb_behavioral_spark.registry import all_oracles

    oracles = all_oracles()
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    _register_inputs(con, data_dir)
    for name in names:
        path = reference_path(cache_dir, name, oracles[name])
        if os.path.exists(path):
            continue
        table = con.execute(oracles[name]).arrow()
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    con.close()


def _strip_tz(table):
    """Cast tz-aware timestamps (Spark's Arrow output) to naive UTC
    values, also inside lists, so both sides share one type."""
    import pyarrow as pa

    def fix(t):
        if pa.types.is_timestamp(t) and t.tz is not None:
            return pa.timestamp(t.unit)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            inner = fix(t.value_type)
            return pa.list_(inner) if inner is not t.value_type else t
        return t

    fields = [pa.field(f.name, fix(f.type), f.nullable) for f in table.schema]
    target = pa.schema(fields)
    return table if target == table.schema else table.cast(target)


def _canon(con, rel: str) -> str:
    cols = []
    for name, dtype, *_ in sorted(con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()):
        c = '"' + name.replace('"', '""') + '"'
        if dtype in ("FLOAT", "DOUBLE") or dtype.startswith("DECIMAL"):
            cols.append(f"printf('%.9g', CAST({c} AS DOUBLE))")
        elif dtype.startswith("TIMESTAMP") or dtype == "DATE":
            cols.append(f"epoch_us(CAST({c} AS TIMESTAMP))")
        else:
            cols.append(f"CAST({c} AS VARCHAR)")
    return ", ".join(cols)


def compare(got, ref) -> str | None:
    """None when ``got`` and ``ref`` (Arrow tables) hold the same rows
    under the same column names, else a short description of the diff."""
    import duckdb

    got_cols, ref_cols = sorted(got.column_names), sorted(ref.column_names)
    if got_cols != ref_cols:
        return f"columns differ: got {got_cols}, reference {ref_cols}"
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        con.register("got_t", _strip_tz(got))
        con.register("ref_t", ref)
        g, r = _canon(con, "got_t"), _canon(con, "ref_t")
        extra = con.execute(
            f"SELECT {g} FROM got_t EXCEPT ALL SELECT {r} FROM ref_t"
        ).fetchall()
        missing = con.execute(
            f"SELECT {r} FROM ref_t EXCEPT ALL SELECT {g} FROM got_t"
        ).fetchall()
    finally:
        con.close()
    if not extra and not missing:
        return None
    return (
        f"{got.num_rows} rows vs {ref.num_rows} in reference; "
        f"{len(extra)} unexpected, e.g. {extra[:3]}; "
        f"{len(missing)} missing, e.g. {missing[:3]} "
        f"(columns in order {got_cols})"
    )

