"""The benchmark's workloads: fixed, ordered lists of calls into the repo.

A call is one public entry point of one repo module. Registry keys go
through ``registry.QUERIES[key]`` (which clears the session cache on
entry, so no pass rides another pass's cache); the extra calls reach
``sources.billing``, ``functions`` and ``plans.compaction`` directly.
Every call returns a DataFrame that the harness materializes through
the ``noop`` sink, except the compaction write, which writes parquet.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# operator modules broken out as their own layer; the rest roll up
SPLIT_OPERATORS = ("operators.basket", "operators.graph", "operators.dedup")


@dataclass
class Ctx:
    """What a call may use: the session, the generated inputs, and the
    frames earlier calls of the same pass returned."""

    spark: SparkSession
    manifest: dict
    scratch: str
    outputs: dict[str, DataFrame] = field(default_factory=dict)

    @property
    def data_dir(self) -> str:
        return self.manifest["dir"]


@dataclass
class Call:
    name: str
    layer: str
    run: Callable[[Ctx], DataFrame]
    # given the context of the pass that made ``out`` (its ``outputs``
    # hold that pass's frames), returns an error string, or None when the
    # output is right (registry keys are checked against their DuckDB
    # oracle instead)
    check: Callable[[Ctx, DataFrame], str | None] | None = None
    sink: str = "noop"  # "noop": materialize the frame; "none": run() wrote


@dataclass
class Workload:
    name: str
    sf: float
    billings: int
    calls: list[Call]


def layer_of(module: str) -> str:
    """Repo module → benchmark layer name."""
    name = module.removeprefix("bigdata1_spark.")
    if name.startswith("operators.") and name not in SPLIT_OPERATORS:
        return "operators"
    if name.startswith("functions."):
        return "functions"
    if name.startswith("streaming."):
        return "streaming"
    if name in ("sources.tables", "sources.generator"):
        return "sources"
    return name


def registry_call(key: str) -> Call:
    from bigdata1_spark import registry

    fn = registry.QUERIES[key]

    def run(ctx: Ctx) -> DataFrame:
        return fn(ctx.spark, ctx.data_dir)

    return Call(key, layer_of(fn.__wrapped__.__module__), run)


# -- calls outside the registry ---------------------------------------------

def _billing_a(ctx: Ctx) -> DataFrame:
    from bigdata1_spark.sources.billing import (
        normalize, parse_billings_a, read_billing_lines,
    )

    lines = read_billing_lines(ctx.spark, ctx.manifest["billings_path"])
    return normalize(parse_billings_a(lines))


def _check_billing_a(ctx: Ctx, out: DataFrame) -> str | None:
    from bigdata1_spark.sources.generator import FOOD_VOCAB

    per_bill = out.groupBy("bill_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("item").alias("nd"),
        F.min(F.year("bill_date")).alias("y0"),
        F.max(F.year("bill_date")).alias("y1"),
        F.min(F.col("item").isin(*FOOD_VOCAB).cast("int")).alias("in_vocab"),
    )
    r = per_bill.agg(
        F.count(F.lit(1)).alias("bills"),
        F.min("nd").alias("nd_min"), F.max("nd").alias("nd_max"),
        F.sum((F.col("n") != F.col("nd")).cast("int")).alias("dups"),
        F.min("y0").alias("y0"), F.max("y1").alias("y1"),
        F.min("in_vocab").alias("in_vocab"),
    ).first()
    want = ctx.manifest["rows"]["billings_a"]
    if r.bills != want:
        return f"billings parsed {r.bills} != generated {want}"
    if not (1 <= r.nd_min and r.nd_max <= 8) or r.dups or not r.in_vocab:
        return f"billing items out of contract: {r.asDict()}"
    if (r.y0, r.y1) != (2015, 2015):
        return f"billing dates outside 2015: {r.y0}..{r.y1}"
    return None


MINHASH_K, BANDS = 32, 8


def _minhash_probe(ctx: Ctx) -> DataFrame:
    from bigdata1_spark.functions import hashing, textfns
    from bigdata1_spark.sources.tables import load_table

    docs = load_table(ctx.spark, ctx.data_dir, "documents")
    sig = hashing.minhash_signature(
        textfns.word_shingles(textfns.tokens(F.col("text"))), k=MINHASH_K
    )
    return docs.select(
        "doc_id",
        hashing.band_keys(sig, BANDS, MINHASH_K // BANDS).alias("bands"),
    )


def _check_minhash(ctx: Ctx, out: DataFrame) -> str | None:
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("ids"),
        F.min(F.size("bands")).alias("b0"),
        F.max(F.size("bands")).alias("b1"),
        F.sum(F.exists("bands", lambda x: x.isNull()).cast("int"))
        .alias("nulls"),
    ).first()
    want = ctx.manifest["rows"]["documents"]
    if r.n != want or r.ids != want:
        return f"minhash rows {r.n} (distinct {r.ids}) != documents {want}"
    if (r.b0, r.b1) != (BANDS, BANDS) or r.nulls:
        return f"band keys malformed: {r.asDict()}"
    return None


def compaction_call(source_key: str, rows_per_file: int) -> Call:
    """``plans.compaction.write_compacted`` of the frame ``source_key``
    returned earlier in the same pass."""

    def run(ctx: Ctx) -> DataFrame:
        from bigdata1_spark.plans.compaction import write_compacted

        # a fresh directory per call, so the frame read back stays valid
        # for the checks after later passes have written theirs
        path = tempfile.mkdtemp(prefix="compacted_", dir=ctx.scratch)
        write_compacted(ctx.outputs[source_key], path, rows_per_file)
        return ctx.spark.read.parquet(path)

    def check(ctx: Ctx, out: DataFrame) -> str | None:
        src = ctx.outputs[source_key]
        if out.count() != src.count() or out.exceptAll(src).count():
            return "compacted parquet differs from its source frame"
        return None

    return Call("compaction", "plans.compaction", run, check, sink="none")


def build(name: str) -> Workload:
    keys = WORKLOAD_KEYS[name]
    calls = [registry_call(k) for k in keys]
    if name == "basket":
        calls.append(Call("billing_a", "sources.billing", _billing_a,
                          _check_billing_a))
    elif name == "registry_mix":
        calls.append(Call("minhash_probe", "functions", _minhash_probe,
                          _check_minhash))
        calls.append(compaction_call(COMPACTION_SOURCE, 500))
    return Workload(name, *SIZES[name], calls)


WORKLOAD_KEYS = {
    "basket": ["topk_window", "groupby_sum", "assoc_rules"],
    "registry_mix": [
        "connected_components", "events_window_streamed", "dedup_exact",
        "skew_salted_join", "scan_jsonl", "explode_items",
    ],
}
COMPACTION_SOURCE = "events_window_streamed"

# generated inputs each call reads (found from each plan's input files;
# drains and checkpointed keys by reading their code). The pass's input
# row count is the sum over calls, so it is fixed per workload and size.
READS = {
    "topk_window": ("lineitem", "orders"),
    "groupby_sum": ("lineitem", "orders"),
    "assoc_rules": ("lineitem",),
    "billing_a": ("billings_a",),
    "connected_components": ("lineitem",),
    "events_window_streamed": ("events",),
    "dedup_exact": ("documents",),
    "skew_salted_join": ("lineitem", "supplier"),
    "scan_jsonl": ("documents",),
    "explode_items": ("lineitem",),
    "minhash_probe": ("documents",),
    "compaction": (),  # reads an earlier call's output
}


def input_rows(wl: Workload, manifest: dict) -> int:
    return sum(manifest["rows"][t] for c in wl.calls for t in READS[c.name])


# (scale factor, Format A billings); sized so that a pass takes about
# 4-6 s and a whole run (set-up with its warm-up pass, a 15 s window and
# the checks) 35-55 s on 4 shared cores
SIZES = {
    "basket": (0.01, 100_000),
    "registry_mix": (0.001, 0),
}
