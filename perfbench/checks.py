"""Output checks, run outside every timed region.

Registry keys are hashed with the repo's own order-insensitive value
hash (``tools/local_correctness._value_hash``) and compared with their
``registry.ORACLES`` SQL run in DuckDB over the same generated inputs.
Calls without an oracle carry invariant checks (see ``workloads``).
Every output also carries an observed hash, which must repeat from the
warm-up pass through every timed pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tools.local_correctness import _value_hash


def pandas_hash(pdf) -> str:
    return _value_hash(pdf[sorted(pdf.columns)])


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` under an observation of its row count and the sum of its
    per-row xxhash64 over every column: an exact (no float rounding),
    row-order-independent hash, taken by whichever action runs the
    frame, so checking a pass costs no second run of its calls."""
    obs = Observation()
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
    ), obs


def observed_hash(obs: Observation) -> str:
    """The hash an ``observed`` frame's action recorded."""
    r = obs.get
    return f"{r['n']}:{r['s']}"


def oracle_hashes(data_dir: str, keys: list[str]) -> dict[str, str]:
    """``registry.ORACLES[key]`` run in DuckDB over ``data_dir``."""
    import duckdb

    from bigdata1_spark import registry
    from gen import TABLE_NAMES

    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )
    try:
        return {k: pandas_hash(con.execute(registry.ORACLES[k]).df())
                for k in keys}
    finally:
        con.close()
