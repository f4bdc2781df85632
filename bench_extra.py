"""Extra benchmarks for optimization work (round 6).

NOT part of the frozen driver contract — bench.py is the measured artifact;
this file exists so optimization A/Bs and plan captures don't touch it.

Usage:
  python bench_extra.py time <query> [query...] [--reps N]
      interleaved timing of the named bench.py headline queries (fresh plan
      per rep, median reported) in one session/window.
  python bench_extra.py explain <query> [query...]
      write .explain("formatted") for the query's DataFrame to
      plans/r06/<query>_<tag>.txt (tag via --tag, default "now").

Queries are the same callables bench.headline_queries builds (same session
confs via bench.make_spark), so numbers here are comparable to bench.py's
per-query seconds within a window.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402  (frozen harness — reused, never modified)


def _dataframes(spark, pages_path: str):
    """DataFrames mirroring bench.headline_queries' query bodies (the
    callables there close over .collect(); for explain we need the frames)."""
    from pyspark.sql import functions as F

    from hllspark import agg, jvm_udaf as ju
    from hllspark import functions as hfn
    from hllspark import sketches

    SF_DIR = bench.SF_DIR
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    pages = spark.read.parquet(pages_path)
    stored = spark.read.parquet(str(ROOT / "data" / "reagg_bench_100k"))
    setop_pairs = spark.read.parquet(str(ROOT / "data" / "setop_bench_100k"))

    def _domains():
        return pages.select(F.pmod(F.xxhash64("url"), F.lit(100_000)).alias("dom"), "url")

    def _continuous():
        return pages.select(F.xxhash64("url").alias("h")).where(
            F.pmod(F.col("h"), F.lit(4)) == 0
        ).select(F.col("h").cast("double").alias("v"))

    def _cube_input():
        return pages.where(F.pmod(F.xxhash64("url", F.lit(7)), F.lit(4)) == 0).select(
            "url", "lang", F.pmod(F.xxhash64("url"), F.lit(8)).alias("shard")
        )

    return {
        "lineitem_distinct_orderkey": lambda: agg.distinct(li, "l_orderkey"),
        "lineitem_distinct_part_by_flag": lambda: agg.distinct(li, "l_partkey", by=["l_returnflag"]),
        "orders_custkey_by_priority": lambda: agg.distinct(orders, "o_custkey", by=["o_orderpriority"]),
        "pages_distinct_url": lambda: agg.distinct(pages, "url"),
        "pages_distinct_url_by_lang": lambda: agg.distinct(pages, "url", by=["lang"]),
        "pages_distinct_texthash": lambda: agg.distinct(
            pages.select(F.xxhash64("text").alias("th")), "th"
        ),
        "reagg_stored_sketches": lambda: agg.merge_partials(
            agg.sketch(pages, "url", by=["lang"]).select("sketch")
        ),
        "pages_ts_quantiles_tdigest": lambda: sketches.build(
            pages.select(F.unix_timestamp("warc_ts").alias("ts")), "ts", "tdigest"
        ),
        "cube_4sets_onescan": lambda: agg.sketch_cube(
            _cube_input(), "url", ["lang", "shard"], engine="jvm_udaf", finalize="estimate"
        ),
        "highcard_grouped_100k_udaf": lambda: ju.sketch_jvm_udaf(
            _domains(), "url", ["dom"], finalize="estimate"
        ),
        "reagg_100k_stored_udaf": lambda: ju.hll_merge_udaf(
            stored.select("sketch"), "sketch", finalize="estimate"
        ),
        "reagg_100k_stored_python": lambda: agg.merge_partials(
            stored.select("sketch"), engine="python"
        ),
        "rollup_read_100k_pandas": lambda: stored.select(
            hfn.hll_estimate(F.col("sketch")).alias("est")
        ).agg(F.sum("est")),
        "setop_union_100k_pandas": lambda: setop_pairs.select(
            hfn.hll_union_estimate(F.col("ca"), F.col("cb")).alias("u")
        ).agg(F.sum("u")),
        "tdigest_continuous_udaf": lambda: ju.tdigest_jvm_udaf(_continuous(), "v"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "explain"])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default="now")
    args = ap.parse_args()

    from hllspark.pipeline.pages import ensure_bench

    pages_path = str(ensure_bench(ROOT))
    spark = bench.make_spark(bench.CPUS)

    if args.mode == "explain":
        frames = _dataframes(spark, pages_path)
        outdir = ROOT / "plans" / "r06"
        outdir.mkdir(parents=True, exist_ok=True)
        for q in args.queries:
            df = frames[q]()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (outdir / f"{q}_{args.tag}.txt").write_text(buf.getvalue())
            print(f"wrote plans/r06/{q}_{args.tag}.txt")
        os._exit(0)

    qs = bench.headline_queries(spark, pages_path)
    picked = {q: qs[q] for q in args.queries}
    spark.range(1_000_000).count()
    for name, fn in picked.items():
        spark.sparkContext.setJobDescription(f"warm {name}")
        fn()
    samples = {q: [] for q in picked}
    for _ in range(args.reps):
        for name, fn in picked.items():
            spark.sparkContext.setJobDescription(f"time {name}")
            t0 = time.monotonic()
            fn()
            samples[name].append(time.monotonic() - t0)
    for name, ss in samples.items():
        print(
            f"{name}: median {statistics.median(ss):.3f}s min {min(ss):.3f}s "
            f"samples {[round(s, 3) for s in ss]}"
        )
    os._exit(0)


if __name__ == "__main__":
    main()
