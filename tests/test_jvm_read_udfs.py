"""Per-row in-JVM read UDFs over STORED sibling-sketch blobs
(SketchReadUdfs, HllSetOpUdfs): the functions.* readers give bit-equal
results on the jar route and on their pandas twins (the jar reported
unloadable), the probes cm_query_col / bloom_contains_col match the pandas
cm_query / bloom_contains; NULL propagation, the xxhash64 hash-domain
refusal for the probing readers, the SQL names register_sql routes, and
the all-JVM plan shape the jar route exists for.

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


def _routes(monkeypatch, reader, *args):
    """(jar column, pandas column) of one functions.* reader call: the call
    with the jar loaded, then the same call with the jar reported
    unloadable (the route is picked when the column is built)."""
    jar = reader(*args)
    with monkeypatch.context() as m:
        m.setattr(ju, "available", lambda spark: False)
        py = reader(*args)
    return jar, py


def _python_nodes(q) -> bool:
    plan = q._jdf.queryExecution().executedPlan().toString()
    return "ArrowEvalPython" in plan or "BatchEvalPython" in plan


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


def test_quantile_rank_parity(read_spark, monkeypatch):
    """functions.tdigest_quantile / tdigest_rank / kll_quantile bit-equal
    on the jar and pandas routes across a q sweep incl. the 0/1 extremes —
    covers both the exact-capacity (small groups) and folded-digest (large
    groups) stored shapes."""
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
        x = q * 200 - 100
        for sk, reader, arg in ((td, hf.tdigest_quantile, q), (td, hf.tdigest_rank, x), (kl, hf.kll_quantile, q)):
            jv, pv = _routes(monkeypatch, reader, "sketch", arg)
            rows = sk.select(jv.alias("jv"), pv.alias("pv")).collect()
            assert rows and all(_eq(r["jv"], r["pv"]) for r in rows), (q, rows)


def test_minhash_jaccard_parity(read_spark, monkeypatch):
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
    jv, pv = _routes(monkeypatch, hf.minhash_jaccard, "sa", "sb")
    rows = pairs.select(jv.alias("jv"), pv.alias("pv")).collect()
    assert len(rows) == 15 and all(_eq(r["jv"], r["pv"]) for r in rows)
    assert any(r["pv"] > 0 for r in rows)


def test_read_udfs_null_propagation(read_spark, monkeypatch):
    """NULL sketch or NULL probe/argument → SQL NULL from every reader, on
    both routes of the functions.* readers — including a NULL q / x over a
    non-empty sketch, which reaches the pandas twin as NaN, and a quantile
    or rank of an empty t-digest / KLL sketch."""
    import hllspark.functions as hf
    from hllspark.sketches import KLL, TDigest

    spark = read_spark
    df = spark.range(100).select(F.col("id").alias("v"))
    cm = ju.countmin_jvm_udaf(df, "v", width=64, depth=3).first()["sketch"]
    td = ju.tdigest_jvm_udaf(df, "v").first()["sketch"]
    kl = ju.kll_jvm_udaf(df, "v").first()["sketch"]
    mh = ju.minhash_jvm_udaf(df, "v", k=64).first()["sketch"]
    empty_td, empty_kl = TDigest.create(delta=100).to_bytes(), KLL.create(k=200).to_bytes()
    rows = [
        (bytearray(cm), bytearray(td), bytearray(kl), bytearray(mh), None),
        (None, None, None, None, 5),
        (None,) * 5,
        (None, bytearray(empty_td), bytearray(empty_kl), None, 5),
    ]
    pdf = spark.createDataFrame(rows, "cm binary, td binary, kl binary, mh binary, v long")
    nul = F.lit(None).cast("binary")
    cols = [ju.cm_query_col(spark, pdf, "cm", "v")]
    for reader, args in (
        (hf.tdigest_quantile, ("td", F.col("v"))),
        (hf.tdigest_rank, ("td", F.col("v"))),
        (hf.kll_quantile, ("kl", F.col("v"))),
        (hf.tdigest_quantile, (nul, F.lit(0.5))),
        (hf.kll_quantile, (nul, F.lit(0.5))),
        (hf.minhash_jaccard, ("mh", nul)),
        (hf.minhash_jaccard, (nul, nul)),
    ):
        cols.extend(_routes(monkeypatch, reader, *args))
    got = pdf.select(*[c.alias(f"c{i}") for i, c in enumerate(cols)]).collect()
    assert len(got) == 4
    for r in got:
        assert all(v is None for v in r), r


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
    import hllspark.functions as hf

    spark = read_spark
    df = spark.range(2_000).select((F.col("id") % 5).alias("g"), (F.col("id") % 97).alias("v"))
    ju.countmin_jvm_udaf(df, "v", ["g"], width=128, depth=4).write.parquet(str(tmp_path / "cm"))
    ju.tdigest_jvm_udaf(df, "v", ["g"]).write.parquet(str(tmp_path / "td"))
    cm = spark.read.parquet(str(tmp_path / "cm"))
    probes = spark.range(10).select((F.col("id") % 5).alias("g"), F.col("id").alias("v"))
    j = cm.join(probes, "g")
    q1 = j.select("g", ju.cm_query_col(spark, j, "sketch", "v").alias("freq"))
    td = spark.read.parquet(str(tmp_path / "td"))
    q2 = td.select("g", hf.tdigest_quantile("sketch", 0.5).alias("p50"))
    for q in (q1, q2):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
        assert q.count() > 0


def test_register_sql_routes_readers_to_jar(read_spark, monkeypatch, tmp_path):
    """register_sql registers the jar's read UDFs under the unprefixed SQL
    names: with the jar, no routed name's plan has a Python evaluation
    node, and the results equal register_sql's pandas registration (the
    jar reported unloadable) — exactly, except the HLL estimates (≤1 ulp
    for hll_estimate; the set operations within the 1e-9 relative bound of
    test_setop_estimates_parity, whose inclusion–exclusion cancels)."""
    from hllspark import agg
    from hllspark.functions import register_sql

    spark = read_spark
    ids = spark.range(6_000).select((F.col("id") % 3).alias("g"), "id")
    # per group a different, overlapping value set: 100 / 200 / 300 values
    df = ids.select("g", (F.col("id") % (F.lit(300) * (F.col("g") + 1))).cast("double").alias("x"))
    parts = {
        "hll": agg.sketch(df, "x", by=["g"]),
        "td": ju.tdigest_jvm_udaf(df, "x", ["g"]),
        "kl": ju.kll_jvm_udaf(df, "x", ["g"]),
        "mh": ju.minhash_jvm_udaf(df, "x", ["g"], k=64),
    }
    rollup = None
    for name, sk in parts.items():
        sk = sk.select("g", F.col("sketch").alias(name))
        rollup = sk if rollup is None else rollup.join(sk, "g")
    rollup.write.parquet(str(tmp_path / "rollup"))
    spark.read.parquet(str(tmp_path / "rollup")).createOrReplaceTempView("sql_rollup")
    exprs = {
        "hll_estimate": "hll_estimate(a.hll)",
        "hll_estimate_bigint": "hll_estimate_bigint(a.hll)",
        "hll_union_estimate": "hll_union_estimate(a.hll, b.hll)",
        "hll_intersection": "hll_intersection(a.hll, b.hll)",
        "hll_compliment": "hll_compliment(a.hll, b.hll)",
        "hll_symmetric_diff": "hll_symmetric_diff(a.hll, b.hll)",
        "tdigest_quantile": "tdigest_quantile(a.td, 0.5)",
        "tdigest_rank": "tdigest_rank(a.td, 100.0)",
        "kll_quantile": "kll_quantile(a.kl, 0.5)",
        "minhash_jaccard": "minhash_jaccard(a.mh, b.mh)",
    }

    def run():
        out = {}
        for name, expr in exprs.items():
            q = spark.sql(f"SELECT a.g AS ga, b.g AS gb, {expr} AS v FROM sql_rollup a CROSS JOIN sql_rollup b")
            out[name] = (_python_nodes(q), {(r["ga"], r["gb"]): r["v"] for r in q.collect()})
        return out

    register_sql(spark)
    jar = run()
    with monkeypatch.context() as m:
        m.setattr(ju, "available", lambda spark: False)
        register_sql(spark)
        py = run()
    register_sql(spark)  # later tests read the jar registration
    for name in exprs:
        (jar_python, jv), (py_python, pv) = jar[name], py[name]
        assert not jar_python and py_python, name
        assert len(jv) == 9 and jv.keys() == pv.keys(), name
        for k, v in jv.items():
            assert v is not None, (name, k)
            if name == "hll_estimate":
                assert abs(v - pv[k]) <= math.ulp(max(abs(v), abs(pv[k]))), (name, k, v, pv[k])
            elif name.startswith("hll_") and name != "hll_estimate_bigint":
                assert abs(v - pv[k]) <= 1e-9 * max(1.0, abs(pv[k])), (name, k, v, pv[k])
            else:
                assert _eq(v, pv[k]), (name, k, v, pv[k])


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


def test_setop_estimates_parity(setop_spark, monkeypatch):
    """functions.hll_union_estimate / intersection / compliment /
    symmetric_diff match between the jar and pandas routes on every
    operand-shape pair (the estimator's documented ≤1-ulp linear-counting
    latitude; bit-exact elsewhere); the public hll_union_estimate_col is
    the jar route's column."""
    import hllspark.functions as hf

    spark = setop_spark
    pairs = _setop_rollup(spark)
    cols = []
    for tag, reader in (("u", hf.hll_union_estimate), ("i", hf.hll_intersection),
                        ("c", hf.hll_compliment), ("s", hf.hll_symmetric_diff)):
        jv, pv = _routes(monkeypatch, reader, "ca", "cb")
        cols += [jv.alias("j" + tag), pv.alias("p" + tag)]
    rows = pairs.select("sa", "sb", ju.hll_union_estimate_col(spark, "ca", "cb").alias("uc"), *cols).collect()
    assert len(rows) == 9
    for r in rows:
        assert r["uc"] == r["ju"]
        for jv, pv in ((r["ju"], r["pu"]), (r["ji"], r["pi"]), (r["jc"], r["pc"]), (r["js"], r["ps"])):
            assert jv is not None and pv is not None
            assert abs(jv - pv) <= 1e-9 * max(1.0, abs(pv)), r
    # sanity: self-union ≈ self estimate, self-intersection > 0, self-symdiff ~ 0
    diag = [r for r in rows if r["sa"] == r["sb"]]
    assert len(diag) == 3
    for r in diag:
        assert r["ji"] > 0 and abs(r["js"]) < 1e-6 and abs(r["jc"]) < 1e-6


def test_setop_null_contract(setop_spark, monkeypatch):
    """One NULL operand: union estimates the surviving side, the difference
    forms give 0.0 (empty-set semantics); both NULL → SQL NULL — on both
    routes, exactly functions._pairwise(null_passthrough=True)."""
    import hllspark.functions as hf
    from hllspark import agg

    spark = setop_spark
    df = spark.range(1_000).select(F.lit("g").alias("g"), (F.col("id") % 500).alias("v"))
    blob = bytes(agg.sketch(df, "v", by=["g"]).first()["sketch"])
    pdf = spark.createDataFrame(
        [(bytearray(blob), None), (None, bytearray(blob)), (None, None)], "ca binary, cb binary"
    )
    cols = []
    for tag, reader in (("u", hf.hll_union_estimate), ("i", hf.hll_intersection),
                        ("c", hf.hll_compliment), ("s", hf.hll_symmetric_diff)):
        jv, pv = _routes(monkeypatch, reader, "ca", "cb")
        cols += [jv.alias("j" + tag), pv.alias("p" + tag)]
    rows = pdf.select(*cols).collect()
    for route in "jp":
        for r in rows[:2]:
            assert r[route + "u"] is not None and r[route + "u"] > 400
            assert r[route + "i"] == 0.0 and r[route + "c"] == 0.0 and r[route + "s"] == 0.0
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
    """Rollup-table scan → pairwise set-op estimates through the routed
    functions.* readers: no Python stage."""
    import hllspark.functions as hf

    spark = setop_spark
    pairs = _setop_rollup(spark)
    pairs.write.parquet(str(tmp_path / "pairs"))
    stored = spark.read.parquet(str(tmp_path / "pairs"))
    q = stored.select(
        "sa", "sb",
        hf.hll_union_estimate("ca", "cb").alias("u"),
        hf.hll_symmetric_diff("ca", "cb").alias("s"),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert q.count() == 9


def test_read_udfs_no_jar_is_loud(read_spark, monkeypatch):
    """The explicit jar readers raise without the jar, naming the Java UDF
    (the functions.* readers take the pandas route instead)."""
    spark = read_spark
    pdf = spark.createDataFrame([(None, 5)], "sketch binary, v long")
    nul = F.lit(None).cast("binary")
    monkeypatch.setattr(ju, "available", lambda spark: False)
    for klass, call in (
        ("HllSketchEstimateUdf", lambda: ju.hll_estimate_col(spark, nul)),
        ("HllSetOpUdfs.UnionEstimate", lambda: ju.hll_union_estimate_col(spark, nul, nul)),
        ("SketchReadUdfs.CountMinQuery", lambda: ju.cm_query_col(spark, pdf, "sketch", "v")),
        ("SketchReadUdfs.BloomContains", lambda: ju.bloom_contains_col(spark, pdf, "sketch", "v")),
        ("SketchReadUdfs.KllQuantile", lambda: ju._read_udf_apply(spark, "kll_quantile", [nul, F.lit(0.5)])),
    ):
        with pytest.raises(RuntimeError, match=klass):
            call()
