"""In-JVM estimate finalize (HllSketchEstimateUdf / HllEstimator over the
aggregators' canonical output): parity with HLL.from_bytes(...).estimate()
of the same aggregate bytes across modes, precisions, chain rows and the
stored-merge path, plus the all-JVM plan shape it exists for.

Parity contract (HllEstimator.java header): bit-identical wherever no log
is taken (bias-corrected dense regime); ≤ 1 ulp in the linear-counting
regimes, where the JVM's StrictMath.log (fdlibm, chosen so results can't
flip across JIT tiers) may differ from CPython's platform libm in the last
bit.  Both are far inside the 10-decimal golden tolerance and the
micro-unit (×1e6) contract compare, which is asserted here too.
"""

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hllspark import agg
from hllspark.core.hll import HASH_XXHASH_SPARK, HLL, sparse_capacity

ju = pytest.importorskip("hllspark.jvm_udaf")


@pytest.fixture(scope="module")
def udaf_spark(spark):
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


def _close1ulp(a, b):
    if a is None or b is None:
        return a is b
    return a == b or abs(a - b) <= math.ulp(max(abs(a), abs(b)))


def _py_estimate(blob):
    """HLL.estimate() of an aggregate's output (None for all-NULL), after
    checking the bytes are canonical: decoding and re-serializing them
    gives them back unchanged."""
    if blob is None:
        return None
    sk = HLL.from_bytes(bytes(blob))
    assert sk.to_bytes() == bytes(blob)
    return sk.estimate()


def _no_python_stage(q):
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


@pytest.mark.parametrize("b,binbits", [(14, 6), (4, 4), (11, 5), (18, 8), (16, 7)])
def test_jvm_estimate_parity_sweep(udaf_spark, b, binbits):
    """Sparse, boundary, dense and bias-corrected cardinalities at five
    precision shapes (incl. the b>16 alpham formula branch and both
    binbits register-term branches) — the aggregate's bytes, and the
    python engine's, equal HLL.add_hashes over the same xxhash64 values
    (at b=4/binbits=4 and 60k values the largest register exceeds
    2^binbits - 1), and every estimate is
    within 1 ulp of HLL.from_bytes(...).estimate() and equal at contract
    micro-units."""
    from hllspark.core.xxhash import xxh64_long

    ns = [1, 5, 100, 1020, 1021, 5000, 60000]
    df = None
    for n in ns:
        part = udaf_spark.range(n).select(F.lit(n).alias("n"), (F.col("id") * 7919).alias("v"))
        df = part if df is None else df.unionByName(part)
    kw = {"b": b, "binbits": binbits}
    jv = {r["n"]: r["est"] for r in ju.sketch_jvm_udaf(df, "v", ["n"], finalize="estimate", **kw).collect()}
    blobs = {r["n"]: bytes(r["sketch"]) for r in ju.sketch_jvm_udaf(df, "v", ["n"], **kw).collect()}
    # the python engine over 8 partials per group: its partial → merge
    # hand-off must carry registers above 2^binbits - 1 unmasked
    py = {
        r["n"]: bytes(r["sketch"])
        for r in agg.sketch(df.repartition(8), "v", ["n"], engine="python", jvm_prehash=True, **kw).collect()
    }
    for n in ns:
        ref = HLL.create(hash_kind=HASH_XXHASH_SPARK, **kw)
        ref.add_hashes(xxh64_long(np.arange(n, dtype=np.int64) * 7919))
        assert blobs[n] == ref.to_bytes(), n
        assert py[n] == ref.to_bytes(), ("python", n)
        pv = _py_estimate(blobs[n])
        assert _close1ulp(jv[n], pv), (n, jv[n], pv)
        assert round(jv[n] * 1e6) == round(pv * 1e6), (n, jv[n], pv)
    none = udaf_spark.range(0).select(F.col("id").alias("v"))
    assert ju.sketch_jvm_udaf(none, "v", finalize="estimate", **kw).first()["est"] is None


def test_jvm_estimate_plan_has_no_python_stage(udaf_spark):
    """The point of the JVM finalize: scan → xxhash64 → ObjectHashAggregate
    → JVM scalar UDF, with no Arrow transfer and no Python worker — for
    both the global and the grouped estimate query."""
    df = udaf_spark.range(10_000).select((F.col("id") % 7).alias("g"), F.col("id").alias("v"))
    for q in [
        ju.sketch_jvm_udaf(df, "v", finalize="estimate"),
        ju.sketch_jvm_udaf(df, "v", ["g"], finalize="estimate_bigint"),
    ]:
        _no_python_stage(q)


def test_jvm_estimate_null_contract(udaf_spark):
    """All-NULL group → SQL NULL estimate (and 0 for estimate_bigint);
    NULL group KEYS aggregate normally — same contract as every engine."""
    rows = [Row(g=None, v=1), Row(g=None, v=2), Row(g="a", v=None), Row(g="b", v=5), Row(g="b", v=6)]
    df = udaf_spark.createDataFrame(rows)
    est = {r["g"]: r["est"] for r in ju.sketch_jvm_udaf(df, "v", ["g"], finalize="estimate").collect()}
    assert est["a"] is None and est[None] is not None and est["b"] is not None
    big = {r["g"]: r["est"] for r in ju.sketch_jvm_udaf(df, "v", ["g"], finalize="estimate_bigint").collect()}
    assert big == {None: 2, "a": 0, "b": 2}


def test_jvm_estimate_chain_replay_parity(udaf_spark):
    """Crafted suffix==0 hashes exercise the in-JVM murmur rehash chain
    (HllEstimator.rhoChain/encodeHash/denseAdd, replayed at the
    aggregator's finish) in sparse, dense and promote-during-replay shapes
    — bytes equal HLL.add_hashes over the same hashes, and the estimate
    is within 1 ulp of its estimate."""
    b, binbits = 14, 6
    cap = sparse_capacity(b)
    rng = np.random.RandomState(7)

    def rand(k):
        return rng.randint(-(2**63), 2**63, size=k, dtype=np.int64)

    chain_rows = np.arange(1, 6, dtype=np.int64) << 39  # h << pprime == 0
    cases = {
        "chains_sparse": np.concatenate([rand(100), chain_rows]),
        "chains_dense": np.concatenate([rand(cap * 40), chain_rows, np.zeros(1, dtype=np.int64)]),
        "chains_promote": np.concatenate([rand(cap - 2), chain_rows]),
    }
    for name, hs in cases.items():
        sdf = udaf_spark.createDataFrame([(int(x),) for x in hs], "h long").repartition(4)
        col = ju.hll_udaf_column(udaf_spark, F.col("h"), b, binbits)
        agged = sdf.groupBy().agg(col.alias("blob"))
        row = agged.select("blob", ju.hll_estimate_col(udaf_spark, "blob").alias("est")).first()
        ref = HLL.create(b=b, binbits=binbits, hash_kind=HASH_XXHASH_SPARK)
        ref.add_hashes(hs.view(np.uint64))
        assert bytes(row["blob"]) == ref.to_bytes(), name
        assert _close1ulp(row["est"], ref.estimate()), (name, row["est"], ref.estimate())


def test_jvm_estimate_v2_merge_path(udaf_spark):
    """hll_merge_udaf — the stored-sketch rollup path — finishes to the
    canonical merged counter and estimates it with the same JVM reader,
    with no Python stage anywhere in the build-then-merge plan; an EMPTY
    stored counter survives as an empty counter with estimate 0.0 (NOT
    NULL: only an all-NULL group merges to NULL)."""
    df = udaf_spark.range(3000).select((F.col("id") % 17).alias("g"), F.col("id").alias("v"))
    stored = ju.sketch_jvm_udaf(df, "v", ["g"])
    q = ju.hll_merge_udaf(stored, "sketch", finalize="estimate")
    merged = ju.hll_merge_udaf(stored, "sketch")
    _no_python_stage(q)
    _no_python_stage(merged)
    jv = q.first()["est"]
    assert bytes(merged.first()["sketch"]) == bytes(ju.sketch_jvm_udaf(df, "v").first()["sketch"])
    pv = _py_estimate(merged.first()["sketch"])
    assert _close1ulp(jv, pv)

    empty = HLL.create(b=14, binbits=6, hash_kind=HASH_XXHASH_SPARK).to_bytes()
    edf = udaf_spark.createDataFrame([(bytearray(empty),)], "sketch binary")
    assert ju.hll_merge_udaf(edf, "sketch", finalize="estimate").first()["est"] == 0.0
    assert bytes(ju.hll_merge_udaf(edf, "sketch").first()["sketch"]) == empty
    nulls = udaf_spark.createDataFrame([(None,)], "sketch binary")
    assert ju.hll_merge_udaf(nulls, "sketch").first()["sketch"] is None

    # a murmur-hashed (hash_kind 0) stored counter estimates as HLL.estimate
    from hllspark.core.hash import hash_int64

    h = HLL.create()
    h.add_hashes(hash_int64(np.arange(700, dtype=np.int64)))
    hdf = udaf_spark.createDataFrame([(bytearray(h.to_bytes()),)], "sketch binary")
    assert ju.hll_merge_udaf(hdf, "sketch", finalize="estimate").first()["est"] == h.estimate()


@pytest.fixture(scope="module")
def sketch_est_spark(udaf_spark):
    return udaf_spark


def test_sketch_estimate_col_payload_forms(sketch_est_spark, monkeypatch):
    """functions.hll_estimate on the jar route (= hll_estimate_col) matches
    its pandas twin (the jar reported unloadable) within 1 ulp across EVERY
    serialization the library emits — raw + group-varint sparse, raw +
    bit-packed + deflated dense — plus NULL→NULL and empty-counter→0.0;
    the pandas route equals HLL.estimate() exactly."""
    spark = sketch_est_spark
    df = spark.range(50_000).select((F.col("id") % 6).alias("g"), (F.col("id") * 13).alias("v"))
    # 6 groups of ~8.3k values: dense registers; plus small groups for sparse
    small = spark.range(40).select((F.col("id") % 4 + 10).alias("g"), F.col("id").alias("v"))
    stored = ju.sketch_jvm_udaf(df.unionAll(small), "v", ["g"]).collect()
    blobs = []
    for r in stored:
        h = HLL.from_bytes(bytes(r["sketch"]))
        blobs.append(h.to_bytes(packed=False, compress=False))  # raw sparse / raw dense
        blobs.append(h.to_bytes(packed=True, compress=False))   # bit-packed dense (no-op for sparse)
        blobs.append(h.to_bytes(compress=True))                 # varint sparse / deflated dense
    blobs.append(HLL.create(b=14, binbits=6, hash_kind=HASH_XXHASH_SPARK).to_bytes())  # empty
    rows = [(i, bytearray(b)) for i, b in enumerate(blobs)] + [(len(blobs), None)]
    sdf = spark.createDataFrame(rows, "i int, sketch binary").repartition(3)
    import hllspark.functions as hf

    routed = hf.hll_estimate(F.col("sketch"))
    with monkeypatch.context() as m:
        m.setattr(ju, "available", lambda spark: False)
        pandas = hf.hll_estimate(F.col("sketch"))
    got = sdf.select(
        "i", ju.hll_estimate_col(spark, F.col("sketch")).alias("jv"), routed.alias("fv"), pandas.alias("pv")
    ).collect()
    assert len(got) == len(blobs) + 1
    for r in got:
        assert r["fv"] == r["jv"], (r["i"], r["fv"], r["jv"])
        assert _close1ulp(r["jv"], r["pv"]), (r["i"], r["jv"], r["pv"])
        if r["i"] < len(blobs):
            assert r["pv"] == HLL.from_bytes(blobs[r["i"]]).estimate(), r["i"]
    by_i = {r["i"]: r["jv"] for r in got}
    assert by_i[len(blobs) - 1] == 0.0  # empty stored counter
    assert by_i[len(blobs)] is None  # SQL NULL sketch


def test_sketch_estimate_col_plan_is_all_jvm(sketch_est_spark, tmp_path):
    """The read path this UDF exists for — scan a stored sketch-rollup table
    → estimate — must contain no Python/Arrow stage at all (the build side
    may; that's the write-time cost, paid once)."""
    spark = sketch_est_spark
    df = spark.range(1000).select((F.col("id") % 9).alias("g"), F.col("id").alias("v"))
    path = str(tmp_path / "rollup")
    ju.sketch_jvm_udaf(df, "v", ["g"]).write.parquet(path)
    q = spark.read.parquet(path).select("g", ju.hll_estimate_col(spark, F.col("sketch")).alias("est"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    ests = {r["g"]: r["est"] for r in q.collect()}
    assert len(ests) == 9 and all(6 <= e <= 140 for e in ests.values())


def test_sketch_estimate_col_refuses_non_canonical(sketch_est_spark):
    """A blob whose header is not a canonical hllspark counter (e.g. a
    reference-legacy wire blob, whose negative-b compressed flag form or
    PGLZ payload this UDF deliberately does not decode) fails the task
    LOUDLY instead of returning a wrong estimate."""
    spark = sketch_est_spark
    bad = bytes([1, 0x80, 6, 0, 0, 0, 0, 0]) + b"\x00" * 16  # b=-128: legacy/corrupt
    bdf = spark.createDataFrame([(bytearray(bad),)], "sketch binary")
    with pytest.raises(Exception, match="not a canonical hllspark counter"):
        bdf.select(ju.hll_estimate_col(spark, F.col("sketch")).alias("e")).collect()


def test_sketch_estimate_col_no_jar_is_loud(sketch_est_spark, monkeypatch):
    """Explicit-engine semantics: unlike the auto routes, a missing jar
    raises RuntimeError instead of silently degrading."""
    monkeypatch.setattr(ju, "available", lambda spark: False)
    with pytest.raises(RuntimeError, match="HllSketchEstimateUdf"):
        ju.hll_estimate_col(sketch_est_spark, F.lit(None).cast("binary"))


def test_jvm_estimate_bit_exact_in_bias_corrected_regime(udaf_spark):
    """Where no logarithm is taken (dense, past the linear-counting
    threshold) the JVM estimate must be BIT-identical — the harmonic sum,
    float32 alpham and OLS bias fit replicate the Python operation order
    exactly.  n=60000 at b=14 sits in that regime (threshold 11500)."""
    df = udaf_spark.range(60_000).select((F.col("id") * 31) .alias("v"))
    jv = ju.sketch_jvm_udaf(df, "v", finalize="estimate").first()["est"]
    pv = _py_estimate(ju.sketch_jvm_udaf(df, "v").first()["sketch"])
    assert jv == pv


def test_truncated_varint_sparse_fails_in_every_decoder(sketch_est_spark):
    """A sketch cut short must raise in every decoder — the Python object
    path, the header-only batch estimate, the batched merge, and the Java
    decoder behind hll_estimate_col (incl. its header-only sparse path) /
    hll_merge_udaf — instead of returning a made-up estimate: group-varint
    sparse blobs at several cuts, and 4 bytes off raw sparse, raw dense and
    bit-packed dense blobs."""
    from hllspark.core.hash import hash_int64
    from hllspark.core.hll import estimate_blobs, merge_blobs

    spark = sketch_est_spark
    small, big = HLL.create(), HLL.create()
    small.add_hashes(hash_int64(np.arange(203, dtype=np.int64)))
    big.add_hashes(hash_int64(np.arange(50_000, dtype=np.int64)))
    assert len(small.sparse) == 203 and not big.is_sparse
    varint = small.to_bytes(compress=True)
    cases = [(varint[:-cut], "truncated group-varint sparse payload") for cut in (1, 2, 5, 40)]
    for blob in (small.to_bytes(packed=False), big.to_bytes(packed=False), big.to_bytes(packed=True)):
        cases.append((blob[:-4], "truncated sketch payload"))
    for bad, msg in cases:
        for decode in (HLL.from_bytes, lambda v: estimate_blobs([v]), lambda v: merge_blobs([v])):
            with pytest.raises(ValueError, match=msg):
                decode(bad)
        bdf = spark.createDataFrame([(bytearray(bad),)], "sketch binary")
        with pytest.raises(Exception, match=msg):
            bdf.select(ju.hll_estimate_col(spark, "sketch")).collect()
        with pytest.raises(Exception, match=msg):
            ju.hll_merge_udaf(bdf, "sketch").collect()


def test_generated_java_constants_are_current():
    """HllConstants.java is generated from core/_constants.py and the header
    constants of core/hll.py; the committed file must be what the generator
    emits today, so the jar's writer and decoders use Python's values."""
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("gen_java_constants", root / "tools" / "gen_java_constants.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert gen.emit() == gen.OUT.read_text()
