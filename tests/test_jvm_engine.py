"""Engine parity: the jvm_udaf engine against the python (mapInArrow)
engine with jvm_prehash=True — byte-identical sketches for strings, longs,
NULL keys, all-NULL groups, the sparse/dense boundary and chain rows."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hllspark import agg

ju = pytest.importorskip("hllspark.jvm_udaf")


@pytest.fixture(scope="module")
def udaf(spark):
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


def _bytes_by_key(df, by):
    return {
        tuple(r[c] for c in by): None if r["sketch"] is None else bytes(r["sketch"])
        for r in df.collect()
    }


def _py(df, col, by=()):
    return _bytes_by_key(agg.sketch(df, col, by=list(by), engine="python", jvm_prehash=True), list(by))


def _udaf(df, col, by=()):
    return _bytes_by_key(ju.sketch_jvm_udaf(df, col, list(by)), list(by))


def test_jvm_engine_byte_parity_strings(udaf, pages_small_dir):
    pages = udaf.read.parquet(pages_small_dir)
    assert _py(pages, "url", ["lang"]) == _udaf(pages, "url", ["lang"])


def test_jvm_engine_byte_parity_global_and_longs(udaf, sf01_dir):
    li = udaf.read.parquet(f"{sf01_dir}/lineitem.parquet")
    # longs: python engine with jvm_prehash=True hashes via xxhash64 too
    assert _py(li, "l_orderkey") == _udaf(li, "l_orderkey")


def test_jvm_engine_sparse_keys_and_nulls(udaf):
    # small distinct counts per key → sparse representation, plus a NULL-only key
    df = udaf.createDataFrame(
        [(g, f"v{i % (10 * (g + 1))}") for g in range(3) for i in range(500)] + [(9, None)] * 5,
        "g int, v string",
    )
    py = _py(df, "v", ["g"])
    jvm = _udaf(df, "v", ["g"])
    assert py == jvm
    from hllspark.core.hll import HLL

    assert HLL.from_bytes(jvm[(0,)]).is_sparse  # 10 distinct → sparse
    # all-NULL group: key present, sketch is SQL NULL (reference NULL contract)
    assert (9,) in jvm and jvm[(9,)] is None


def test_jvm_engine_sparse_dense_boundary(udaf):
    # straddle the 1020-capacity promotion edge
    for n, sparse in ((1000, True), (1500, False)):
        df = udaf.range(n).select(F.col("id").cast("string").alias("v"))
        py = _py(df, "v")[()]
        jvm = _udaf(df, "v")[()]
        assert py == jvm
        from hllspark.core.hll import HLL

        h = HLL.from_bytes(jvm)
        # n distinct strings may collide in the 2^25 encode space very rarely;
        # representation must match the canonical rule exactly
        assert h.is_sparse == (len(h.sparse) <= 1020 if h.sparse is not None else False) or not sparse


def test_distinct_auto_uses_jvm_and_matches_exact(spark, sf01_dir):
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    exact = li.select(F.countDistinct("l_orderkey")).first()[0]
    est = agg.distinct(li, "l_orderkey").first()["est"]  # auto → jvm_udaf engine
    assert abs(est - exact) / exact < 3 * 1.04 / (2**14) ** 0.5


def test_countmin_bloom_jvm_byte_parity(udaf, sf01_dir):
    """The count-min/bloom aggregate buffers produce byte-identical sketches
    to the python engine with jvm_prehash=True."""
    from hllspark.core.hll import HASH_XXHASH_SPARK
    from hllspark.sketches import Bloom, CountMin

    li = udaf.read.parquet(f"{sf01_dir}/lineitem.parquet")
    py_cm = _bytes_by_key(
        agg.sketch_generic(
            li, "l_partkey",
            lambda: CountMin.create(width=1024, depth=4, hash_kind=HASH_XXHASH_SPARK),
            CountMin, by=["l_returnflag"], jvm_prehash=True,
        ), ["l_returnflag"],
    )
    jv_cm = _bytes_by_key(ju.countmin_jvm_udaf(li, "l_partkey", by=["l_returnflag"], width=1024, depth=4), ["l_returnflag"])
    assert py_cm == jv_cm

    py_bf = _bytes_by_key(
        agg.sketch_generic(
            li, "l_suppkey",
            lambda: Bloom.create(m_bits=1 << 16, k=5, hash_kind=HASH_XXHASH_SPARK),
            Bloom, jvm_prehash=True,
        ), [],
    )
    jv_bf = _bytes_by_key(ju.bloom_jvm_udaf(li, "l_suppkey", m_bits=1 << 16, k=5), [])
    assert py_bf == jv_bf


def test_distributed_assembly_byte_parity(udaf, sf01_dir, pages_small_dir):
    """Distributed builds on both engines agree byte-for-byte on skewed
    string keys, sparse keys with a null-only group, and high-cardinality
    grouping (one tiny sketch per customer)."""
    pages = udaf.read.parquet(pages_small_dir)
    assert _py(pages, "url", ["lang"]) == _udaf(pages, "url", ["lang"])

    # sparse keys + a null-only group
    df = udaf.createDataFrame(
        [(g, f"v{i % (8 * (g + 1))}") for g in range(4) for i in range(400)] + [(9, None)] * 3,
        "g int, v string",
    )
    assert _py(df, "v", ["g"]) == _udaf(df, "v", ["g"])

    # high-cardinality grouping: one tiny sketch per customer
    o = udaf.read.parquet(f"{sf01_dir}/orders.parquet")
    a = _py(o, "o_orderkey", ["o_custkey"])
    b = _udaf(o, "o_orderkey", ["o_custkey"])
    assert a == b and len(a) > 500


def test_null_group_keys_all_engines(udaf):
    """NULL group KEYS (not just NULL values) are real SQL groups: every
    engine must keep them and produce byte-identical sketches.  Covers both
    a NULL string key and a NULL int key (pandas degrades nullable int64 to
    float64 — the assembly must round-trip the key exactly)."""
    rows = (
        [(None, f"u{i}") for i in range(300)]
        + [("en", f"v{i % 50}") for i in range(200)]
        + [("de", None)] * 4  # all-NULL-value group too
    )
    df = udaf.createDataFrame(rows, "lang string, url string")
    py = _py(df, "url", ["lang"])
    jd = _udaf(df, "url", ["lang"])
    assert set(py) == {(None,), ("en",), ("de",)}
    assert py == jd
    assert py[("de",)] is None and py[(None,)] is not None

    # NULL int64 key
    rows2 = [(None, i) for i in range(100)] + [(7, i) for i in range(2000)]
    df2 = udaf.createDataFrame(rows2, "g long, v long")
    py2 = _py(df2, "v", ["g"])
    assert set(py2) == {(None,), (7,)}
    assert py2 == _udaf(df2, "v", ["g"])


def test_grouped_distinct_null_semantics(spark):
    """distinct(): all-NULL group → est NULL (double) / 0 (bigint) — the
    hyperloglog_get_estimate vs get_estimate_bigint contract."""
    df = spark.createDataFrame([(1, None), (1, None), (2, "x"), (2, "y")], "g int, v string")
    est = {r["g"]: r["est"] for r in agg.distinct(df, "v", by=["g"]).collect()}
    assert est[1] is None and est[2] is not None and est[2] > 0
    big = {r["g"]: r["est"] for r in agg.distinct(df, "v", by=["g"], bigint=True).collect()}
    assert big == {1: 0, 2: 2}


def test_integer_type_probes(udaf):
    """JVM builders canonicalize IntegerType → LongType before xxhash64, so
    Python-side probes (which can't see the SQL type) agree.  Regression for
    the int-dtype dispatch bug: bloom_contains was False for every inserted
    value of an int column."""
    from hllspark.functions import register_sql

    spark = udaf
    register_sql(spark)
    df = spark.createDataFrame([(i % 100,) for i in range(1000)], "v int")
    bf = ju.bloom_jvm_udaf(df, "v", m_bits=1 << 16, k=5)
    bf.createOrReplaceTempView("bf_int")
    got = spark.sql(
        "SELECT bloom_contains(sketch, CAST(50 AS INT)) AS p50, "
        "bloom_contains(sketch, CAST(12345 AS INT)) AS absent FROM bf_int"
    ).first()
    assert got["p50"] is True and got["absent"] is False

    cm = ju.countmin_jvm_udaf(df, "v", width=1024, depth=4)
    cm.createOrReplaceTempView("cm_int")
    got = spark.sql("SELECT cm_query(sketch, CAST(50 AS INT)) AS c FROM cm_int").first()
    assert got["c"] == 10  # exact at this width (overestimates only)


def test_global_distributed_finalize_parity(udaf):
    """Global sketches and distinct() estimates agree across engines and
    honor the zero-rows/all-NULL → SQL NULL aggregate contract
    (hyperloglog_counter.c:511-513).  The jar estimates in the JVM, whose
    StrictMath.log may differ from CPython's libm by 1 ulp in the
    linear-counting regime (jvm_udaf._estimate_udf_column)."""
    spark = udaf
    cases = {
        "dense": spark.range(50_000).select(F.col("id").alias("v")),
        "sparse": spark.range(100).select(F.col("id").alias("v")),
        "allnull": spark.range(10).select(F.lit(None).cast("long").alias("v")),
        "empty": spark.range(0).select(F.col("id").alias("v")),
    }
    for name, df in cases.items():
        new = agg.sketch(df, "v", engine="jvm_udaf").collect()
        py = agg.sketch(df, "v", engine="python", jvm_prehash=True).collect()
        assert len(new) == 1 and len(py) == 1, name
        a, b = new[0]["sketch"], py[0]["sketch"]
        assert (a is None) == (b is None) and (a is None or bytes(a) == bytes(b)), name
        e = agg.distinct(df, "v", engine="jvm_udaf").first()["est"]
        pe = agg.distinct(df, "v", engine="python", jvm_prehash=True).first()["est"]
        assert (e is None) == (pe is None), name
        assert e is None or abs(e - pe) <= math.ulp(max(abs(e), abs(pe))), name
        bi = agg.distinct(df, "v", engine="jvm_udaf", bigint=True).first()["est"]
        assert bi == agg.distinct(df, "v", engine="python", jvm_prehash=True, bigint=True).first()["est"], name
    assert agg.distinct(cases["empty"], "v", engine="jvm_udaf", bigint=True).first()["est"] == 0
    assert agg.distinct(cases["allnull"], "v", engine="jvm_udaf").first()["est"] is None


def test_minhash_jvm_byte_parity(udaf, sf01_dir):
    """The MinHash aggregate buffer (xxhash64(h, j) remix replayed in-JVM,
    unsigned min) is byte-identical to the python engine with
    jvm_prehash=True and hash_kind=HASH_XXHASH_SPARK (_remix_spark replays
    the same chain)."""
    from hllspark.core.hll import HASH_XXHASH_SPARK
    from hllspark.sketches import MinHash

    spark = udaf
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet").limit(20_000)
    fac = lambda: MinHash.create(k=128, hash_kind=HASH_XXHASH_SPARK)
    jvm = {r["l_returnflag"]: bytes(r["sketch"])
           for r in ju.minhash_jvm_udaf(li, "l_partkey", by=["l_returnflag"]).collect()}
    py = {r["l_returnflag"]: bytes(r["sketch"])
          for r in agg.sketch_generic(li, "l_partkey", fac, MinHash, by=["l_returnflag"], jvm_prehash=True).collect()}
    assert jvm == py and len(jvm) == 3
    # jaccard behaves: identical sets → 1.0, disjoint ranges → ~0
    a = spark.range(0, 4000).selectExpr("id AS v")
    b = spark.range(50_000, 54_000).selectExpr("id AS v")
    sa = MinHash.from_bytes(bytes(ju.minhash_jvm_udaf(a, "v", k=256).first()["sketch"]))
    sb = MinHash.from_bytes(bytes(ju.minhash_jvm_udaf(b, "v", k=256).first()["sketch"]))
    sa2 = MinHash.from_bytes(bytes(ju.minhash_jvm_udaf(a.repartition(7), "v", k=256).first()["sketch"]))
    assert sa.jaccard(sa2) == 1.0 and bytes(sa.to_bytes()) == bytes(sa2.to_bytes())
    assert sa.jaccard(sb) < 0.05
    assert sa.n_added == 4000


def test_chain_rows_byte_parity_all_engines(udaf, monkeypatch):
    """rho-overflow (chain) rows occur with probability ~2^-39/row in
    production — force them by making the JVM 'hash' the identity, so h=0
    (every suffix bit zero) chains.  The jar engine (global and grouped)
    must produce byte-identical sketches to a direct python build over the
    same hashes: chain-only keys start from the empty SPARSE state, and
    sparse and dense keys replay their chain rows after the registers."""
    import hllspark.agg as A
    from hllspark.core.hll import HASH_XXHASH_SPARK, HLL

    monkeypatch.setattr(A, "jvm_hash_expr", lambda df, c: F.col(c).cast("long"))

    rng = np.random.RandomState(3)
    normal = [int(x) for x in rng.randint(1, 2**62, size=2000)]
    cases = {
        "chain_only": [0],
        "sparse_plus_chain": normal[:50] + [0],
        "dense_plus_chain": normal + [0],
    }
    for name, hs in cases.items():
        df = udaf.createDataFrame([(h,) for h in hs], "v long")
        grouped = ju.sketch_jvm_udaf(df.withColumn("g", F.lit(1)), "v", ["g"]).first()["sketch"]
        glob = ju.sketch_jvm_udaf(df, "v").first()["sketch"]
        ref = HLL.create(hash_kind=HASH_XXHASH_SPARK)
        ref.add_hashes(np.array(hs, dtype=np.int64).view(np.uint64))
        assert bytes(grouped) == ref.to_bytes(), name
        assert bytes(glob) == ref.to_bytes(), name
