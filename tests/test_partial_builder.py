"""Phase-1 builders: the jar's HllPartialBuilder (agg.build_partials'
jar route) against the python mapInArrow builder — partials that decode
equal for every (partition, key), byte-identical merges, the same lineage,
and group keys grouped by value (NULL apart from NaN, binary by content)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hllspark import agg
from hllspark.core.hll import HASH_XXHASH_SPARK, HLL

ju = pytest.importorskip("hllspark.jvm_udaf")

PARAMS = [(4, 4), (6, 6), (10, 5), (14, 6), (18, 6)]
BY_SETS = [[], ["kd"], ["kb"], ["kd", "ks", "kb", "kt"]]


@pytest.fixture(scope="module")
def udaf(spark):
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


@pytest.fixture(scope="module")
def df(udaf):
    """Three partitions (no shuffle, so every plan sees the same rows in
    each) of seven key groups: NaN, NULL, -0.0 and 0.0 double keys, NULL
    string/binary/timestamp keys, and a group whose every value is NULL."""
    g = F.col("id") % 7
    return udaf.range(0, 21000, numPartitions=3).select(
        F.when(g == 0, F.lit(float("nan")))
        .when(g == 1, F.lit(None))
        .when(g == 2, F.lit(-0.0))
        .when(g == 3, F.lit(0.0))
        .otherwise(g.cast("double"))
        .alias("kd"),
        F.when(g == 4, F.lit(None)).otherwise(F.concat(F.lit("s"), (g % 3).cast("string"))).alias("ks"),
        F.when(g % 3 == 0, F.lit(None)).otherwise(F.concat(F.lit("b"), (g % 2).cast("string")).cast("binary")).alias("kb"),
        F.when(g == 5, F.lit(None)).otherwise(F.timestamp_seconds(g % 4)).alias("kt"),
        F.when(g == 6, F.lit(None)).otherwise((F.col("id") * 2654435761) % 100_003).alias("v"),
    )


def _key(v):
    """A collected key value as a comparable dict key (NaN is one value)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return bytes(v) if isinstance(v, (bytes, bytearray)) else v


def _decoded(blob):
    return None if blob is None else HLL.from_bytes(bytes(blob)).to_bytes(packed=False)


def _partials(df, by, engine, **kw):
    """{(partition_id, key...): (decoded partial, rows_seen, nulls_skipped)}
    and the wall_ms values."""
    rows = agg.build_partials(df, "v", by, jvm_prehash=True, engine=engine, **kw).collect()
    out = {}
    for r in rows:
        k = (r["partition_id"], *[_key(r[c]) for c in by])
        assert k not in out, f"two partials for {k}"
        out[k] = (_decoded(r["sketch"]), r["rows_seen"], r["nulls_skipped"])
    return out, [r["wall_ms"] for r in rows]


def _by_key(sketches, by):
    return {
        tuple(_key(r[c]) for c in by): None if r["sketch"] is None else bytes(r["sketch"])
        for r in sketches.collect()
    }


def _merged(partials, by):
    return _by_key(agg.merge_partials(partials, by), by)


@pytest.mark.parametrize("b,binbits", PARAMS, ids=[f"b{b}_bb{bb}" for b, bb in PARAMS])
def test_jvm_partials_equal_python_partials(df, b, binbits):
    for by in BY_SETS:
        jvm, walls = _partials(df, by, "jvm_udaf", b=b, binbits=binbits)
        py, _ = _partials(df, by, "python", b=b, binbits=binbits)
        assert jvm == py, by
        assert len({k[0] for k in jvm}) == 3 and all(w > 0 for w in walls)
        merged = [
            _merged(agg.build_partials(df, "v", by, b=b, binbits=binbits, jvm_prehash=True, engine=e, lineage=False), by)
            for e in ("jvm_udaf", "python")
        ]
        direct = _by_key(ju.sketch_jvm_udaf(df, "v", by, b, binbits), by)
        assert merged[0] == merged[1] == direct, by
        if by == ["kd"]:
            # the NaN group is apart from the NULL one; the all-NULL group is a NULL sketch
            assert py[(0, "NaN")][0] is not None and py[(0, None)][0] is not None and py[(0, 6.0)][0] is None
    sparse = {HLL.from_bytes(s).is_sparse for s in direct.values() if s is not None}
    assert sparse == {b == 18}


def _identity_hash(monkeypatch):
    """Make the JVM 'hash' the identity, so a test picks its registers."""
    monkeypatch.setattr(agg, "jvm_hash_expr", lambda df, c: F.col(c).cast("long"))


def _ref(hashes, **params):
    ref = HLL.create(hash_kind=HASH_XXHASH_SPARK, **params)
    ref.add_hashes(np.array(hashes, dtype=np.int64).view(np.uint64))
    return ref.to_bytes()


def test_dense_partials_keep_registers_above_binbits(udaf, monkeypatch):
    """At binbits < 8 a dense partial is written unpacked: a register may
    exceed 2^binbits - 1 (here rho 18 at binbits 4), and the merge must see
    it unmasked — max(mask(a), mask(b)) is not mask(max(a, b))."""
    _identity_hash(monkeypatch)
    rng = np.random.RandomState(7)
    hs = [(1 << 40) | 1, (1 << 41) | 1] + [int(x) for x in rng.randint(1, 2**62, size=400)]
    d = udaf.createDataFrame([(i % 2, h) for i, h in enumerate(hs)], "kd long, v long").repartition(2)
    jvm, _ = _partials(d, ["kd"], "jvm_udaf", b=6, binbits=4)
    assert jvm == _partials(d, ["kd"], "python", b=6, binbits=4)[0]
    assert max(int(np.max(HLL.from_bytes(s).dense)) for s, _, _ in jvm.values()) == 18
    merged = _merged(agg.build_partials(d, "v", ["kd"], b=6, binbits=4, jvm_prehash=True, lineage=False), ["kd"])
    assert merged == {(k,): _ref(hs[k::2], b=6, binbits=4) for k in (0, 1)}


def test_chain_rows_partials(udaf, monkeypatch):
    """Chain rows (hash suffix all zero) are replayed into each partial: the
    jar and python partials decode equal and merge to the direct python
    build over the same hashes."""
    _identity_hash(monkeypatch)
    rng = np.random.RandomState(5)
    hs = [0] + [int(x) for x in rng.randint(1, 2**62, size=1500)] + [0]
    d = udaf.createDataFrame([(i % 2, h) for i, h in enumerate(hs)], "kd long, v long").repartition(2)
    jvm, _ = _partials(d, ["kd"], "jvm_udaf")
    assert jvm == _partials(d, ["kd"], "python")[0]
    merged = _merged(agg.build_partials(d, "v", ["kd"], jvm_prehash=True, lineage=False), ["kd"])
    assert merged == {(k,): _ref(hs[k::2]) for k in (0, 1)}


@pytest.mark.parametrize("by", [["k"], ["k", "s"]], ids=["one_key", "float_and_string"])
def test_nan_keys_stay_apart_from_null(udaf, by):
    """NaN and NULL double keys are separate groups in every engine: the
    python builder, the jar's partial builder and the jar aggregate."""
    d = udaf.createDataFrame(
        [(k, "x", i) for i, k in enumerate([float("nan"), None, 1.0, float("nan"), -0.0, 0.0])],
        "k double, s string, v long",
    ).repartition(2)
    py = _by_key(agg.sketch(d, "v", by, engine="python", jvm_prehash=True), by)
    jvm = _merged(agg.build_partials(d, "v", by, jvm_prehash=True, engine="jvm_udaf", lineage=False), by)
    direct = _by_key(ju.sketch_jvm_udaf(d, "v", by), by)
    assert py == jvm == direct
    assert sorted(k[0] for k in py if k[0] is not None and k[0] != "NaN") == [0.0, 1.0]
    assert {("NaN",), (None,)} <= {k[:1] for k in py}
    nan_key = next(k for k in py if k[0] == "NaN")
    assert HLL.from_bytes(py[nan_key]).estimate() == pytest.approx(2, rel=0.01)


def test_routing(udaf, df):
    """auto runs the jar only over the xxhash64 prehash: a murmur-pinned
    input runs the python builder, and engine="jvm_udaf" refuses it."""
    plan = agg.build_partials(df, "v", ["ks"], jvm_prehash=True)._jdf.queryExecution().executedPlan().toString()
    assert "MapPartitions" in plan and "MapInArrow" not in plan
    pinned = agg.build_partials(df, "v", ["ks"], input_type="int64")
    assert "MapInArrow" in pinned._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(ValueError, match="xxhash64"):
        agg.build_partials(df, "v", ["ks"], input_type="int64", engine="jvm_udaf")
