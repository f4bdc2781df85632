"""Generic two-phase executor over the sibling sketches on Spark, asserted
against exact answers computed in Spark."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hllspark import agg
from hllspark.core.hash import hash_int64, hash_strings
from hllspark.sketches import KLL, Bloom, CountMin, MinHash, TDigest


def test_countmin_frequencies_on_events(spark, sf01_dir):
    e = spark.read.parquet(f"{sf01_dir}/events.parquet")
    sk = agg.sketch_generic(e, "event_type", lambda: CountMin.create(width=4096, depth=5), CountMin)
    cm = CountMin.from_bytes(bytes(sk.first()["sketch"]))
    exact = {r["event_type"]: r["c"] for r in e.groupBy("event_type").count().withColumnRenamed("count", "c").collect()}
    import pandas as pd

    keys = pd.Series(list(exact))
    est = cm.query_hashes(hash_strings(keys))
    bound = cm.epsilon * cm.total
    for k, v in zip(keys, est):
        assert exact[k] <= v <= exact[k] + 3 * bound
    assert cm.total == e.count()


def test_tdigest_quantiles_on_lineitem(spark, sf01_dir):
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    sk = agg.sketch_generic(li, "l_extendedprice", lambda: TDigest.create(delta=100), TDigest)
    td = TDigest.from_bytes(bytes(sk.first()["sketch"]))
    vals = np.array([r[0] for r in li.select("l_extendedprice").collect()])
    s = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        rank = np.searchsorted(s, td.quantile(q)) / len(s)
        assert abs(rank - q) < 0.02, (q, rank)
    assert td.total == pytest.approx(len(vals))


def test_kll_grouped_quantiles(spark, sf01_dir):
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    sk = agg.sketch_generic(li, "l_quantity", lambda: KLL.create(k=200), KLL, by=["l_returnflag"])
    rows = {r["l_returnflag"]: KLL.from_bytes(bytes(r["sketch"])) for r in sk.collect()}
    assert len(rows) == 3
    exact_mid = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag").agg(F.expr("percentile(l_quantity, 0.5)").alias("m")).collect()
    }
    for flag, k in rows.items():
        # l_quantity is integer-ish 1..50 → median should land within ±1
        assert abs(k.quantile(0.5) - exact_mid[flag]) <= 1.5


def test_bloom_membership_on_orders(spark, sf001_dir):
    o = spark.read.parquet(f"{sf001_dir}/orders.parquet")
    sk = agg.sketch_generic(o, "o_orderkey", lambda: Bloom.create(m_bits=1 << 18, k=7), Bloom)
    bf = Bloom.from_bytes(bytes(sk.first()["sketch"]))
    keys = np.array([r[0] for r in o.select("o_orderkey").collect()], dtype=np.int64)
    assert bf.contains_hashes(hash_int64(keys)).all()
    absent = np.arange(10**9, 10**9 + 20_000, dtype=np.int64)
    assert bf.contains_hashes(hash_int64(absent)).mean() < 0.05


def test_minhash_partition_invariance(spark, sf001_dir):
    li = spark.read.parquet(f"{sf001_dir}/lineitem.parquet")
    a = bytes(agg.sketch_generic(li.repartition(3), "l_partkey", lambda: MinHash.create(k=128), MinHash).first()["sketch"])
    b = bytes(agg.sketch_generic(li.repartition(11), "l_partkey", lambda: MinHash.create(k=128), MinHash).first()["sketch"])
    assert a == b  # elementwise-min merge → byte-identical at any parallelism


def test_tdigest_jvm_builder(spark, sf01_dir):
    """Jar-engine exact mode (value→count buffer + one weighted fold): same
    rank accuracy as the python engine, deterministic across
    partitionings, empty-input row."""
    from hllspark import sketches

    def build_td(df, col):  # exact mode for every distinct price
        return sketches.build(df, col, "tdigest", exact_capacity=1 << 17)

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    td = TDigest.from_bytes(bytes(build_td(li, "l_extendedprice").first()["sketch"]))
    vals = np.array([r[0] for r in li.select("l_extendedprice").collect()])
    s = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        rank = np.searchsorted(s, td.quantile(q)) / len(s)
        assert abs(rank - q) < 0.02, (q, rank)
    assert td.total == pytest.approx(len(vals))
    # determinism: a different partitioning yields byte-identical sketches
    a = bytes(build_td(li.repartition(3), "l_extendedprice").first()["sketch"])
    b = bytes(build_td(li.repartition(17), "l_extendedprice").first()["sketch"])
    assert a == b
    # zero rows → single row, SQL NULL sketch (strict-aggregate contract)
    row = build_td(li.filter("l_extendedprice < 0"), "l_extendedprice").first()
    assert row["sketch"] is None


def test_kll_jvm_builder_grouped(spark, sf01_dir):
    from hllspark import sketches

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    rows = {r["l_returnflag"]: KLL.from_bytes(bytes(r["sketch"]))
            for r in sketches.build(li, "l_quantity", "kll", by=["l_returnflag"]).collect()}
    assert len(rows) == 3
    exact_mid = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag").agg(F.expr("percentile(l_quantity, 0.5)").alias("m")).collect()
    }
    for flag, k in rows.items():
        assert abs(k.quantile(0.5) - exact_mid[flag]) <= 1.5
        assert k.total == li.filter(F.col("l_returnflag") == flag).count()
    # determinism across partitionings (per key)
    again = {r["l_returnflag"]: bytes(r["sketch"])
             for r in sketches.build(li.repartition(13), "l_quantity", "kll", by=["l_returnflag"]).collect()}
    assert {f: bytes(KLL.from_bytes(b).to_bytes()) for f, b in again.items()} == {
        f: bytes(k.to_bytes()) for f, k in rows.items()
    }


def test_kll_weighted_insert_lossless():
    """Binary weight decomposition must match plain repeated insertion's
    total weight exactly and stay within rank bounds."""
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 100, 5000).astype(np.float64)
    uniq, cnt = np.unique(vals, return_counts=True)
    kw = KLL.create(k=200)
    kw.update_weighted(uniq, cnt)
    assert kw.total == len(vals)
    s = np.sort(vals)
    for q in (0.25, 0.5, 0.75):
        rank = np.searchsorted(s, kw.quantile(q), side="right") / len(s)
        assert abs(rank - q) < 0.05, (q, rank)


def test_kll_weighted_bulk_stays_bounded():
    """Regression: a bulk weighted insert whose promotions overflow levels
    created mid-compaction must cascade until every level fits — a 1M-value
    insert once retained 500k items in a never-visited level (4 MB blob)."""
    k = KLL.create(k=200)
    vals = np.arange(1_000_000, dtype=np.float64)
    k.update_weighted(vals, np.ones(1_000_000, dtype=np.int64))
    assert len(k.to_bytes()) < 20_000
    assert k.total == 1_000_000
    for q in (0.25, 0.5, 0.75):
        assert abs(k.quantile(q) / 1_000_000 - q) < 0.05


def test_jvm_builders_null_contract(spark):
    """Every jar builder must emit a (key, NULL sketch) row for a group
    whose values are all NULL — same row set as the python engine — and a
    single NULL-sketch row for an all-NULL or empty global aggregate."""
    from hllspark import agg
    from hllspark import jvm_udaf as ju

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", None), ("b", None)], "k string, v double"
    )
    for name, fn in (
        ("tdigest", lambda: ju.tdigest_jvm_udaf(df, "v", by=["k"])),
        ("kll", lambda: ju.kll_jvm_udaf(df, "v", by=["k"])),
        ("countmin", lambda: ju.countmin_jvm_udaf(df, "v", by=["k"], width=256, depth=3)),
        ("bloom", lambda: ju.bloom_jvm_udaf(df, "v", by=["k"], m_bits=1 << 12, k=3)),
        ("minhash", lambda: ju.minhash_jvm_udaf(df, "v", by=["k"], k=16)),
    ):
        rows = {r["k"]: r["sketch"] for r in fn().collect()}
        assert set(rows) == {"a", "b"}, (name, rows)
        assert rows["a"] is not None and rows["b"] is None, name
    # python engine emits the same row set with NULL for the all-NULL key
    py = {r["k"]: r["sketch"] for r in agg.sketch_generic(
        df, "v", lambda: TDigest.create(), TDigest, by=["k"]).collect()}
    assert set(py) == {"a", "b"} and py["b"] is None
    # empty / all-NULL global → one row, NULL sketch (no 0x8000... slots)
    empty = spark.range(0).select(F.col("id").cast("double").alias("v"))
    assert ju.minhash_jvm_udaf(empty, "v", k=8).first()["sketch"] is None
    allnull = spark.range(4).select(F.lit(None).cast("double").alias("v"))
    assert ju.minhash_jvm_udaf(allnull, "v", k=8).first()["sketch"] is None
    assert ju.tdigest_jvm_udaf(allnull, "v").first()["sketch"] is None
