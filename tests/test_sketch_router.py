"""sketches.build: engine="auto" routing for the sibling sketches — the hash
kinds byte-identical on both engines, the quantile kinds' jar exact mode
equal to the direct python fold (under exact_capacity)."""

import pytest
from pyspark.sql import functions as F

from hllspark import sketches


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(i % 3, f"v{i % 997}") for i in range(5000)] + [(9, None)], "g int, v string"
    ).cache()


@pytest.fixture(scope="module")
def numdf(spark):
    return spark.createDataFrame([(i % 3, float(i % 397)) for i in range(5000)], "g int, v double").cache()


def _by_key(out):
    return {r["g"]: None if r["sketch"] is None else bytes(r["sketch"]) for r in out.collect()}


@pytest.mark.parametrize("kind,params", [
    ("countmin", {"width": 256, "depth": 4}),
    ("bloom", {"m_bits": 1 << 12, "k": 5}),
    ("minhash", {"k": 32}),
])
def test_router_hash_kinds_engine_parity(spark, df, kind, params):
    from hllspark import jvm_udaf

    engines = ["python"]
    if jvm_udaf.available(spark):
        engines.append("jvm_udaf")
    results = [_by_key(sketches.build(df, "v", kind, by=["g"], engine=e, **params)) for e in engines]
    assert all(r == results[0] for r in results[1:]), kind
    assert results[0][9] is None  # all-NULL group → SQL NULL via every engine
    auto = _by_key(sketches.build(df, "v", kind, by=["g"], **params))
    assert auto == results[0]


@pytest.mark.parametrize("kind,params", [("tdigest", {"delta": 100}), ("kll", {"k": 200})])
def test_router_quantiles_jvm_engines_parity(spark, numdf, kind, params, quantile_ref):
    from hllspark import jvm_udaf

    if jvm_udaf.available(spark):
        u = _by_key(sketches.build(numdf, "v", kind, by=["g"], engine="jvm_udaf", **params))
        ref = {k[0]: v for k, v in quantile_ref(numdf, "v", ["g"], kind, **params).items()}
        assert u == ref  # 397 distinct values per group < exact_capacity → exact mode
    # python engine builds per partition (order-dependent centroids) — just
    # check it produces working sketches of the same kind
    p = sketches.build(numdf, "v", kind, by=["g"], engine="python", **params)
    assert p.count() == 3


def test_router_validation(spark, df):
    with pytest.raises(ValueError):
        sketches.build(df, "v", "nope")
    for engine in ("warp", "jvm"):
        with pytest.raises(ValueError, match="expected one of"):
            sketches.build(df, "v", "bloom", engine=engine)
