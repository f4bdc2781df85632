"""Two engines: engine="auto" is jvm_udaf when the jar loads, else python
(logged once per app); a jar built from other sources refuses to load; the
removed engine names are rejected."""

import logging

import pytest
from pyspark.sql import functions as F

from hllspark import agg, sketches

ju = pytest.importorskip("hllspark.jvm_udaf")


def _by_key(df, col="sketch"):
    return {r["g"]: None if r[col] is None else bytes(r[col]) for r in df.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(i % 3, f"v{i % 997}", i % 1500) for i in range(5000)] + [(9, None, None)],
        "g int, v string, n long",
    )


def test_auto_without_jar_runs_python_and_logs_once(spark, df, monkeypatch, caplog):
    monkeypatch.setattr(ju, "available", lambda spark: False)
    monkeypatch.setattr(ju, "_FALLBACK_LOGGED", set())
    caplog.set_level(logging.WARNING, logger="hllspark")

    for col in ("v", "n"):  # strings and longs: auto keeps the xxhash64 domain
        auto = agg.sketch(df, col, by=["g"])
        assert "hllsparkjvm" not in _plan(auto).lower()
        assert _by_key(auto) == _by_key(agg.sketch(df, col, by=["g"], engine="python", jvm_prehash=True))
        est = {r["g"]: r["est"] for r in agg.distinct(df, col, by=["g"]).collect()}
        py = {r["g"]: r["est"] for r in agg.distinct(df, col, by=["g"], engine="python", jvm_prehash=True).collect()}
        assert est == py and est[9] is None

    cm = sketches.build(df, "v", "countmin", by=["g"], width=64, depth=3)
    assert _by_key(cm) == _by_key(sketches.build(df, "v", "countmin", by=["g"], engine="python", width=64, depth=3))

    stored = agg.sketch(df, "v", by=["g"], engine="python", jvm_prehash=True)
    merged = sketches.merge_stored(stored.select("sketch"), "hll")
    assert "hllsparkjvm" not in _plan(merged).lower()
    ref = sketches.merge_stored(stored.select("sketch"), "hll", engine="python")
    assert bytes(merged.first()["sketch"]) == bytes(ref.first()["sketch"])

    records = [r for r in caplog.records if r.name == "hllspark"]
    assert len(records) == 1 and "python engine" in records[0].getMessage()


def test_stale_jar_digest_raises(spark, df, monkeypatch):
    """A loaded jar whose embedded source digest differs from this
    checkout's jvm/src fails loudly — auto routing does not fall back."""
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    monkeypatch.setattr(ju, "_SESSION_CACHE", {})
    monkeypatch.setattr(ju, "_driver_digest", lambda: "0" * 64)
    with pytest.raises(RuntimeError, match=r"hllspark-udaf\.jar.*python tools/build_jar\.py --force"):
        ju.available(spark)
    with pytest.raises(RuntimeError, match="stale"):
        agg.sketch(df, "v")


@pytest.mark.parametrize("engine", ["jvm", "jvm_driver"])
def test_removed_engines_rejected(spark, df, engine):
    calls = [
        lambda: agg.sketch(df, "v", engine=engine),
        lambda: agg.distinct(df, "v", engine=engine),
        lambda: agg.sketch_cube(df, "n", ["g"], engine=engine),
        lambda: agg.merge_partials(df.select(F.lit(None).cast("binary").alias("sketch")), engine=engine),
        lambda: sketches.build(df, "v", "bloom", engine=engine),
        lambda: sketches.build_cube(df, "n", "countmin", ["g"], engine=engine),
        lambda: sketches.merge_stored(df.select(F.lit(None).cast("binary").alias("sketch")), "hll", engine=engine),
    ]
    for call in calls:
        with pytest.raises(ValueError, match=r"'auto', 'jvm_udaf', 'python'"):
            call()
