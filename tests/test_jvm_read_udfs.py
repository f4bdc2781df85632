"""Per-row in-JVM read UDFs over STORED sibling-sketch blobs
(SketchReadUdfs): bit parity with the pandas readers (functions.cm_query /
bloom_contains / tdigest_quantile / tdigest_rank / kll_quantile /
minhash_jaccard), NULL propagation, the xxhash64 hash-domain refusal for
the probing readers, and the all-JVM plan shape they exist for.

Unlike the HLL estimate (which takes a log), every reader here is integer
selection, exact power-of-two sums, or the same double operation order —
so parity is EXACT equality, not 1-ulp.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

ju = pytest.importorskip("hllspark.jvm_udaf")


@pytest.fixture(scope="module")
def read_spark(spark):
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


def _eq(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return a == b


def test_cm_query_parity(read_spark):
    """Frequency estimates bit-equal to functions.cm_query for present AND
    absent probes, long and string value types (both canonicalization
    paths), across groups."""
    import hllspark.functions as hf

    spark = read_spark
    df = spark.range(20_000).select((F.col("id") % 5).alias("g"), (F.col("id") % 700).alias("v"))
    stored = ju.countmin_jvm_udaf(df, "v", ["g"], width=512, depth=5)
    probes = spark.range(60).select((F.col("id") % 5).alias("g"), (F.col("id") * 37 % 900).alias("v"))
    j = stored.join(probes, "g")
    rows = j.select(
        ju.cm_query_col(spark, j, "sketch", "v").alias("jv"),
        hf.cm_query(F.col("sketch"), F.col("v")).alias("pv"),
    ).collect()
    assert rows and all(_eq(r["jv"], r["pv"]) for r in rows)
    assert any(r["pv"] > 0 for r in rows) and any(r["pv"] == 0 for r in rows)

    sdf = spark.range(5_000).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("u"), (F.col("id") % 200).cast("string")).alias("s"),
    )
    sstored = ju.countmin_jvm_udaf(sdf, "s", ["g"], width=256, depth=4)
    sprobes = spark.range(30).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("u"), (F.col("id") * 11 % 300).cast("string")).alias("s"),
    )
    js = sstored.join(sprobes, "g")
    srows = js.select(
        ju.cm_query_col(spark, js, "sketch", "s").alias("jv"),
        hf.cm_query(F.col("sketch"), F.col("s")).alias("pv"),
    ).collect()
    assert srows and all(_eq(r["jv"], r["pv"]) for r in srows)


def test_bloom_contains_parity(read_spark):
    import hllspark.functions as hf

    spark = read_spark
    df = spark.range(10_000).select((F.col("id") % 4).alias("g"), (F.col("id") % 500).alias("v"))
    stored = ju.bloom_jvm_udaf(df, "v", ["g"], m_bits=1 << 14, k=7)
    probes = spark.range(80).select((F.col("id") % 4).alias("g"), (F.col("id") * 13 % 1000).alias("v"))
    j = stored.join(probes, "g")
    rows = j.select(
        ju.bloom_contains_col(spark, j, "sketch", "v").alias("jv"),
        hf.bloom_contains(F.col("sketch"), F.col("v")).alias("pv"),
    ).collect()
    assert rows and all(_eq(r["jv"], r["pv"]) for r in rows)
    assert any(r["pv"] for r in rows) and any(not r["pv"] for r in rows)


def test_quantile_rank_parity(read_spark):
    """t-digest quantile/rank and KLL quantile bit-equal to the pandas
    readers across a q sweep incl. the 0/1 extremes — covers both the
    exact-capacity (small groups) and folded-digest (large groups) stored
    shapes."""
    import hllspark.functions as hf

    spark = read_spark
    vals = spark.range(30_000).select(
        (F.col("id") % 7).alias("g"),
        (F.sin(F.col("id").cast("double")) * 100 + F.col("id") % 13).alias("x"),
    )
    small = spark.range(10).select((F.col("id") % 2 + 10).alias("g"), F.col("id").cast("double").alias("x"))
    both = vals.unionAll(small)
    td = ju.tdigest_jvm_udaf(both, "x", ["g"], delta=100)
    kl = ju.kll_jvm_udaf(both, "x", ["g"], k=200)
    for q in [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0]:
        r1 = td.select(
            ju.tdigest_quantile_col(spark, "sketch", q).alias("jv"),
            hf.tdigest_quantile(F.col("sketch"), F.lit(float(q))).alias("pv"),
        ).collect()
        x = q * 200 - 100
        r2 = td.select(
            ju.tdigest_rank_col(spark, "sketch", x).alias("jv"),
            hf.tdigest_rank(F.col("sketch"), F.lit(float(x))).alias("pv"),
        ).collect()
        r3 = kl.select(
            ju.kll_quantile_col(spark, "sketch", q).alias("jv"),
            hf.kll_quantile(F.col("sketch"), F.lit(float(q))).alias("pv"),
        ).collect()
        for rows in (r1, r2, r3):
            assert rows and all(_eq(r["jv"], r["pv"]) for r in rows), (q, rows)


def test_minhash_jaccard_parity(read_spark):
    import hllspark.functions as hf

    spark = read_spark
    docs = spark.range(4_000).select(
        (F.col("id") % 6).alias("g"),
        F.concat(F.lit("tok"), (F.col("id") % 800).cast("string")).alias("t"),
    )
    mh = ju.minhash_jvm_udaf(docs, "t", ["g"], k=128)
    a = mh.select(F.col("g").alias("ga"), F.col("sketch").alias("sa"))
    b = mh.select(F.col("g").alias("gb"), F.col("sketch").alias("sb"))
    pairs = a.crossJoin(b).where(F.col("ga") < F.col("gb"))
    rows = pairs.select(
        ju.minhash_jaccard_col(spark, "sa", "sb").alias("jv"),
        hf.minhash_jaccard(F.col("sa"), F.col("sb")).alias("pv"),
    ).collect()
    assert len(rows) == 15 and all(_eq(r["jv"], r["pv"]) for r in rows)
    assert any(r["pv"] > 0 for r in rows)


def test_read_udfs_null_propagation(read_spark):
    """NULL sketch or NULL probe/argument → SQL NULL from every reader."""
    spark = read_spark
    df = spark.range(100).select(F.col("id").alias("v"))
    cm = ju.countmin_jvm_udaf(df, "v", width=64, depth=3).first()["sketch"]
    rows = [(bytearray(cm), None), (None, 5), (None, None)]
    pdf = spark.createDataFrame(rows, "sketch binary, v long")
    got = pdf.select(
        ju.cm_query_col(spark, pdf, "sketch", "v").alias("cm"),
        ju.tdigest_quantile_col(spark, F.lit(None).cast("binary"), 0.5).alias("td"),
        ju.kll_quantile_col(spark, F.lit(None).cast("binary"), 0.5).alias("kl"),
        ju.minhash_jaccard_col(spark, F.lit(None).cast("binary"), F.lit(None).cast("binary")).alias("mh"),
    ).collect()
    for r in got:
        assert r["cm"] is None and r["td"] is None and r["kl"] is None and r["mh"] is None


def test_probing_readers_refuse_murmur_domain(read_spark):
    """A murmur-built (hash_kind=0) sketch probed through the xxhash64 read
    path would silently miss every cell — the task must fail loudly
    instead, naming the pandas fallback."""
    import pandas as pd

    from hllspark.functions import hash_series
    from hllspark.sketches import Bloom, CountMin

    spark = read_spark
    h = hash_series(pd.Series(np.arange(100)), "auto")
    cm = CountMin.create(width=64, depth=3, hash_kind=0)
    cm.add_hashes(h)
    bf = Bloom.create(m_bits=1 << 10, k=5, hash_kind=0)
    bf.add_hashes(h)
    pdf = spark.createDataFrame(
        [(bytearray(cm.to_bytes()), bytearray(bf.to_bytes()), 5)], "cm binary, bf binary, v long"
    )
    with pytest.raises(Exception, match="not the xxhash64 build domain"):
        pdf.select(ju.cm_query_col(spark, pdf, "cm", "v").alias("e")).collect()
    with pytest.raises(Exception, match="not the xxhash64 build domain"):
        pdf.select(ju.bloom_contains_col(spark, pdf, "bf", "v").alias("e")).collect()


def test_read_plan_is_all_jvm(read_spark, tmp_path):
    """Scan a stored rollup table → probe/quantile: no Python stage."""
    spark = read_spark
    df = spark.range(2_000).select((F.col("id") % 5).alias("g"), (F.col("id") % 97).alias("v"))
    ju.countmin_jvm_udaf(df, "v", ["g"], width=128, depth=4).write.parquet(str(tmp_path / "cm"))
    ju.tdigest_jvm_udaf(df, "v", ["g"]).write.parquet(str(tmp_path / "td"))
    cm = spark.read.parquet(str(tmp_path / "cm"))
    probes = spark.range(10).select((F.col("id") % 5).alias("g"), F.col("id").alias("v"))
    j = cm.join(probes, "g")
    q1 = j.select("g", ju.cm_query_col(spark, j, "sketch", "v").alias("freq"))
    td = spark.read.parquet(str(tmp_path / "td"))
    q2 = td.select("g", ju.tdigest_quantile_col(spark, "sketch", 0.5).alias("p50"))
    for q in (q1, q2):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
        assert q.count() > 0


def test_register_sql_jvm(read_spark):
    """The *_jvm SQL names run the same Java UDFs: results equal the
    registered pandas surface on the same stored sketches."""
    from hllspark.functions import register_sql

    spark = read_spark
    try:
        ju.register_sql_jvm(spark)
    except RuntimeError:
        pytest.skip("jar not on driver classpath (ADD JAR session)")
    register_sql(spark)
    df = spark.range(5_000).select((F.col("id") % 3).alias("g"), (F.col("id") % 400).cast("double").alias("x"))
    td = ju.tdigest_jvm_udaf(df, "x", ["g"])
    td.createOrReplaceTempView("td_rollup")
    rows = spark.sql(
        "SELECT g, tdigest_quantile_jvm(sketch, 0.5) AS jv, tdigest_quantile(sketch, 0.5) AS pv, "
        "tdigest_rank_jvm(sketch, 100.0) AS jr, tdigest_rank(sketch, 100.0) AS pr FROM td_rollup"
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert _eq(r["jv"], r["pv"]) and _eq(r["jr"], r["pr"])

    hl = __import__("hllspark").agg.sketch(df, "x", by=["g"])
    hl.createOrReplaceTempView("hll_rollup")
    rows = spark.sql(
        "SELECT hll_estimate_jvm(sketch) AS jv, hll_estimate(sketch) AS pv FROM hll_rollup"
    ).collect()
    for r in rows:
        assert r["jv"] is not None and abs(r["jv"] - r["pv"]) <= 1e-9 * max(1.0, abs(r["pv"]))


@pytest.fixture(scope="module")
def setop_spark(read_spark):
    return read_spark


def _setop_rollup(spark):
    """Two stored-counter columns per row covering every operand shape:
    sparse×sparse, dense×dense, sparse×dense — with real overlap so
    intersection/compliment/symmetric-diff are non-trivial."""
    from hllspark import agg

    df = spark.range(120_000).select(
        F.when(F.col("id") % 4 == 0, "sp_small")  # ~150 uniques: sparse
        .when(F.col("id") % 4 == 1, "dn_big")     # ~30k uniques: dense
        .otherwise("dn_big2")
        .alias("seg"),
        F.when(F.col("id") % 4 == 0, F.col("id") % 150)
        .otherwise(F.col("id") % 30_000)
        .alias("v"),
    )
    rollup = agg.sketch(df, "v", by=["seg"])
    a = rollup.select(F.col("seg").alias("sa"), F.col("sketch").alias("ca"))
    b = rollup.select(F.col("seg").alias("sb"), F.col("sketch").alias("cb"))
    return a.crossJoin(b)


def test_setop_estimates_parity(setop_spark):
    """Union/intersection/compliment/symmetric-diff estimates match the
    pandas set-operation UDFs on every operand-shape pair (the estimator's
    documented ≤1-ulp linear-counting latitude; bit-exact elsewhere)."""
    import hllspark.functions as hf

    spark = setop_spark
    pairs = _setop_rollup(spark)
    rows = pairs.select(
        "sa", "sb",
        ju.hll_union_estimate_col(spark, "ca", "cb").alias("ju"),
        hf.hll_union_estimate(F.col("ca"), F.col("cb")).alias("pu"),
        ju.hll_intersection_col(spark, "ca", "cb").alias("ji"),
        hf.hll_intersection(F.col("ca"), F.col("cb")).alias("pi"),
        ju.hll_compliment_col(spark, "ca", "cb").alias("jc"),
        hf.hll_compliment(F.col("ca"), F.col("cb")).alias("pc"),
        ju.hll_symmetric_diff_col(spark, "ca", "cb").alias("js"),
        hf.hll_symmetric_diff(F.col("ca"), F.col("cb")).alias("ps"),
    ).collect()
    assert len(rows) == 9
    for r in rows:
        for jv, pv in ((r["ju"], r["pu"]), (r["ji"], r["pi"]), (r["jc"], r["pc"]), (r["js"], r["ps"])):
            assert jv is not None and pv is not None
            assert abs(jv - pv) <= 1e-9 * max(1.0, abs(pv)), r
    # sanity: self-union ≈ self estimate, self-intersection > 0, self-symdiff ~ 0
    diag = [r for r in rows if r["sa"] == r["sb"]]
    assert len(diag) == 3
    for r in diag:
        assert r["ji"] > 0 and abs(r["js"]) < 1e-6 and abs(r["jc"]) < 1e-6


def test_setop_null_contract(setop_spark):
    """One NULL operand: union estimates the surviving side, the difference
    forms give 0.0 (empty-set semantics); both NULL → SQL NULL — exactly
    functions._pairwise(null_passthrough=True)."""
    from hllspark import agg

    spark = setop_spark
    df = spark.range(1_000).select(F.lit("g").alias("g"), (F.col("id") % 500).alias("v"))
    blob = bytes(agg.sketch(df, "v", by=["g"]).first()["sketch"])
    pdf = spark.createDataFrame(
        [(bytearray(blob), None), (None, bytearray(blob)), (None, None)], "ca binary, cb binary"
    )
    rows = pdf.select(
        ju.hll_union_estimate_col(spark, "ca", "cb").alias("u"),
        ju.hll_intersection_col(spark, "ca", "cb").alias("i"),
        ju.hll_compliment_col(spark, "ca", "cb").alias("c"),
        ju.hll_symmetric_diff_col(spark, "ca", "cb").alias("s"),
    ).collect()
    one_side = [r for r in rows[:2]]
    for r in one_side:
        assert r["u"] is not None and r["u"] > 400
        assert r["i"] == 0.0 and r["c"] == 0.0 and r["s"] == 0.0
    assert all(v is None for v in rows[2])


def test_setop_param_mismatch_is_loud(setop_spark):
    """b/binbits- or hash-kind-mismatched operands refuse exactly like the
    stored-blob merge aggregator (no silent garbage estimate)."""
    import pandas as pd

    from hllspark.core.hll import HLL
    from hllspark.functions import hash_series

    spark = setop_spark
    h = hash_series(pd.Series(np.arange(200)), "auto")
    b12 = HLL.create(b=12)
    b12.add_hashes(h)
    b14 = HLL.create(b=14)
    b14.add_hashes(h)
    pdf = spark.createDataFrame(
        [(bytearray(b12.to_bytes()), bytearray(b14.to_bytes()))], "ca binary, cb binary"
    )
    with pytest.raises(Exception, match="different parameters"):
        pdf.select(ju.hll_union_estimate_col(spark, "ca", "cb").alias("e")).collect()


def test_setop_plan_is_all_jvm(setop_spark, tmp_path):
    """Rollup-table scan → pairwise set-op estimates: no Python stage."""
    spark = setop_spark
    pairs = _setop_rollup(spark)
    pairs.write.parquet(str(tmp_path / "pairs"))
    stored = spark.read.parquet(str(tmp_path / "pairs"))
    q = stored.select(
        "sa", "sb",
        ju.hll_union_estimate_col(spark, "ca", "cb").alias("u"),
        ju.hll_symmetric_diff_col(spark, "ca", "cb").alias("s"),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert q.count() == 9


def test_read_udfs_no_jar_is_loud(read_spark, monkeypatch):
    monkeypatch.setattr(ju, "available", lambda spark: False)
    with pytest.raises(RuntimeError, match="SketchReadUdfs.KllQuantile"):
        ju.kll_quantile_col(read_spark, F.lit(None).cast("binary"), 0.5)
