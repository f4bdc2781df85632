"""Stored-blob merge for sibling sketches (round 4: *BlobMergeAggregator
classes + sketches.merge_stored): exact-merge kinds byte-identical to the
pandas merge; quantile merges rank-accurate; NULL vs empty contract;
mismatch refusal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hllspark import sketches
from hllspark.core.hash import hash_int64
from hllspark.core.hll import HLL
from hllspark.sketches import KLL, Bloom, CountMin, MinHash, TDigest

ju = pytest.importorskip("hllspark.jvm_udaf")


@pytest.fixture(scope="module")
def udaf_spark(spark):
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


def _stored(spark, make, nparts=5, groups=3):
    """DataFrame[g, sketch] of per-part sketches built in python (murmur)."""
    rng = np.random.RandomState(5)
    rows = []
    for g in range(groups):
        for _ in range(nparts):
            st = make()
            vals = rng.randint(0, 500 * (g + 1), size=300).astype(np.int64)
            st.add_hashes(hash_int64(vals)) if hasattr(st, "add_hashes") else st.update_values(vals.astype(np.float64))
            rows.append((g, bytearray(st.to_bytes())))
    rows.append((9, None))  # all-NULL group
    return spark.createDataFrame(rows, "g int, sketch binary").repartition(4)


def _by_key(df):
    return {r["g"]: None if r["sketch"] is None else bytes(r["sketch"]) for r in df.collect()}


@pytest.mark.parametrize("kind,make", [
    ("countmin", lambda: CountMin.create(width=256, depth=4)),
    ("bloom", lambda: Bloom.create(m_bits=1 << 12, k=5)),
    ("minhash", lambda: MinHash.create(k=64)),
])
def test_exact_sibling_blob_merge_byte_parity(udaf_spark, kind, make):
    df = _stored(udaf_spark, make)
    u = _by_key(sketches.merge_stored(df, kind, by=["g"], engine="jvm_udaf"))
    p = _by_key(sketches.merge_stored(df, kind, by=["g"], engine="python"))
    assert u == p and len(u) == 4
    assert u[9] is None  # all-NULL group → SQL NULL
    a = _by_key(sketches.merge_stored(df, kind, by=["g"]))  # auto
    assert a == u
    # global merge parity (NULL rows skipped)
    ug = bytes(sketches.merge_stored(df.select("sketch"), kind, engine="jvm_udaf").first()["sketch"])
    pg = bytes(sketches.merge_stored(df.select("sketch"), kind, engine="python").first()["sketch"])
    assert ug == pg


@pytest.mark.parametrize("kind,make,cls", [
    ("tdigest", lambda: TDigest.create(delta=100), TDigest),
    ("kll", lambda: KLL.create(k=200), KLL),
])
def test_quantile_sibling_blob_merge_rank_accuracy(udaf_spark, kind, make, cls):
    # 20 stored digests over disjoint uniform slices; merged quantiles must
    # land near the global truth (no byte-parity claim: order-dependent)
    rng = np.random.RandomState(7)
    rows = []
    allv = []
    for part in range(20):
        st = make()
        vals = rng.uniform(0, 1000, size=5000)
        st.update_values(vals)
        allv.append(vals)
        rows.append((bytearray(st.to_bytes()),))
    df = udaf_spark.createDataFrame(rows, "sketch binary").repartition(6)
    merged = cls.from_bytes(bytes(sketches.merge_stored(df, kind, engine="jvm_udaf").first()["sketch"]))
    exact = np.sort(np.concatenate(allv))
    n = len(exact)
    assert merged.total == pytest.approx(n)
    for q in (0.1, 0.5, 0.9):
        rank = np.searchsorted(exact, merged.quantile(q)) / n
        assert abs(rank - q) < 0.02, (kind, q, rank)
    assert merged.vmin == exact[0] and merged.vmax == exact[-1]


def test_sibling_blob_merge_empty_not_null(udaf_spark):
    """Legitimate EMPTY stored sketches must survive as empty sketches
    (NULL is reserved for all-NULL groups) — the HLL v2 lesson applied to
    every sibling."""
    for kind, make in [
        ("countmin", lambda: CountMin.create(width=64, depth=3)),
        ("bloom", lambda: Bloom.create(m_bits=256, k=3)),
        ("minhash", lambda: MinHash.create(k=16)),
        ("tdigest", lambda: TDigest.create(delta=100)),
        ("kll", lambda: KLL.create(k=200)),
    ]:
        df = udaf_spark.createDataFrame([(1, bytearray(make().to_bytes()))], "g int, sketch binary")
        u = _by_key(sketches.merge_stored(df, kind, by=["g"], engine="jvm_udaf"))
        p = _by_key(sketches.merge_stored(df, kind, by=["g"], engine="python"))
        assert u[1] is not None, kind
        assert u == p, kind


def _two_partition_df(spark, blob_a, blob_b):
    """One blob per partition — forces the refusal through the cross-
    partition merge(Buf, Buf) path, not just the reduce path (review
    regression: the quantile merges delegated without re-checking params)."""
    da = spark.createDataFrame([(bytearray(blob_a),)], "sketch binary")
    db = spark.createDataFrame([(bytearray(blob_b),)], "sketch binary")
    return da.unionByName(db)  # union preserves the two input partitions


@pytest.mark.parametrize("path", ["reduce", "merge"])
def test_sibling_blob_merge_mismatch_refusal(udaf_spark, path):
    def build(blob_a, blob_b):
        if path == "reduce":  # both blobs hit one buffer
            return udaf_spark.createDataFrame(
                [(bytearray(blob_a),), (bytearray(blob_b),)], "sketch binary"
            ).coalesce(1)
        return _two_partition_df(udaf_spark, blob_a, blob_b)

    cases = [
        ("countmin", CountMin.create(width=64, depth=3), CountMin.create(width=128, depth=3), "dimensions differ"),
        ("minhash", MinHash.create(k=16, hash_kind=0), MinHash.create(k=16, hash_kind=1), "[Hh]ash kind"),
        ("tdigest", _filled(TDigest.create(delta=100)), _filled(TDigest.create(delta=500)), "delta differs"),
        ("kll", _filled_kll(KLL.create(k=200)), _filled_kll(KLL.create(k=300)), "k differs"),
    ]
    for kind, a, b, msg in cases:
        with pytest.raises(Exception, match=msg):
            sketches.merge_stored(build(a.to_bytes(), b.to_bytes()), kind, engine="jvm_udaf").collect()


def _filled(td):
    td.update_values(np.arange(50, dtype=np.float64))
    return td


def _filled_kll(kl):
    kl.update_values(np.arange(50, dtype=np.float64))
    return kl


def test_merge_stored_hll_kind_and_validation(udaf_spark):
    h = HLL.create()
    h.add_hashes(hash_int64(np.arange(500, dtype=np.int64)))
    df = udaf_spark.createDataFrame([(bytearray(h.to_bytes()),)] * 3, "sketch binary")
    u = bytes(sketches.merge_stored(df, "hll").first()["sketch"])
    p = bytes(sketches.merge_stored(df, "hll", engine="python").first()["sketch"])
    assert u == p == h.to_bytes()  # idempotent merge of identical counters
    with pytest.raises(ValueError):
        sketches.merge_stored(df, "nope")


def test_quantile_blob_length_mismatch_fails_in_every_decoder(udaf_spark):
    """A t-digest or KLL blob whose payload length disagrees with its header
    (cut by 1 or 8 bytes, 8 bytes appended, or cut inside the fixed 36 / 38
    byte header or the KLL level-size array) raises in every decoder with
    the same message — never a struct.error or BufferUnderflowException:
    from_bytes, the jar route of functions.tdigest_quantile / kll_quantile,
    and both stored-blob merges."""
    import hllspark.functions as hf

    cases = [
        ("tdigest", TDigest, _filled(TDigest.create(delta=100)), hf.tdigest_quantile,
         "tdigest header inconsistent with payload", [0, 1, 20, 35]),
        ("kll", KLL, _filled_kll(KLL.create(k=200)), hf.kll_quantile,
         "kll payload size inconsistent with header", [0, 1, 20, 37, 38 + 2, 38 + 4 - 1]),
    ]
    for kind, cls, st, reader, msg, cuts in cases:
        blob = st.to_bytes()
        for bad in (blob[:-1], blob[:-8], blob + bytes(8), *[blob[:n] for n in cuts]):
            with pytest.raises(ValueError, match=msg):
                cls.from_bytes(bad)
            df = udaf_spark.createDataFrame([(bytearray(bad),)], "sketch binary")
            read = df.select(reader("sketch", 0.5))
            assert "EvalPython" not in read._jdf.queryExecution().executedPlan().toString()
            with pytest.raises(Exception, match=msg):
                read.collect()
            with pytest.raises(Exception, match=msg):
                ju.sibling_merge_udaf(df, kind).collect()
            with pytest.raises(Exception, match=msg):
                sketches.merge_stored(df, kind, engine="python").collect()
