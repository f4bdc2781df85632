"""Multi-granularity sketch rollups (agg.sketch_cube: CUBE / ROLLUP /
GROUPING SETS) — the DataFrame-level equivalent of composing the reference's
counters with any SQL GROUP BY (they are ordinary Postgres aggregates, so
``GROUP BY GROUPING SETS`` over hyperloglog_accum works for free there).

Invariants pinned here:
- every cube cell's sketch is BYTE-IDENTICAL to a separate
  agg.sketch(df, col, by=set) at that granularity (merge determinism),
- the single-scan jvm_udaf path and the python (explode-Expand) path agree,
- grouping_id disambiguates rolled-up NULL dims from actual NULL keys,
- the udaf plan reads the source ONCE (Catalyst Expand, not |sets| scans).
"""

import pytest
from pyspark.sql import functions as F

from hllspark import agg
from hllspark.agg import _resolve_grouping_sets

ju = pytest.importorskip("hllspark.jvm_udaf")


@pytest.fixture(scope="module")
def udaf_spark(spark):
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


def _cells(df, dims, col="sketch"):
    out = {}
    for r in df.collect():
        key = tuple(r[d] for d in dims) + (r["grouping_id"],)
        assert key not in out, f"duplicate cube cell {key}"
        out[key] = None if r[col] is None else bytes(r[col])
    return out


def _gid(dims, s):
    n = len(dims)
    return sum((1 << (n - 1 - i)) for i, d in enumerate(dims) if d not in s)


def test_resolve_grouping_sets():
    dims = ["a", "b", "c"]
    _, cube = _resolve_grouping_sets(dims, None, "cube")
    assert len(cube) == 8 and cube[0] == dims and cube[-1] == []
    # gid-ascending enumeration: set at index g has gid g
    assert all(_gid(dims, s) == i for i, s in enumerate(cube))
    _, roll = _resolve_grouping_sets(dims, None, "rollup")
    assert roll == [["a", "b", "c"], ["a", "b"], ["a"], []]
    # explicit sets canonicalize within-set order to dim order
    _, sets = _resolve_grouping_sets(dims, [["c", "a"], []], "cube")
    assert sets == [["a", "c"], []]
    with pytest.raises(ValueError, match="non-dim"):
        _resolve_grouping_sets(dims, [["z"]], "cube")
    with pytest.raises(ValueError, match="duplicate grouping set"):
        _resolve_grouping_sets(dims, [["a", "b"], ["b", "a"]], "cube")
    with pytest.raises(ValueError, match="duplicate dim"):
        _resolve_grouping_sets(["a", "a"], None, "cube")
    with pytest.raises(ValueError, match="expands every input row"):
        _resolve_grouping_sets([f"d{i}" for i in range(9)], None, "cube")
    with pytest.raises(ValueError, match="unknown mode"):
        _resolve_grouping_sets(dims, None, "dice")


def test_cube_cells_match_per_set_groupby(udaf_spark, sf001_dir):
    """Each cube cell byte-identical to agg.sketch at that granularity."""
    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    dims = ["o_orderpriority", "o_orderstatus"]
    cube = _cells(agg.sketch_cube(o, "o_custkey", dims, engine="jvm_udaf"), dims)
    _, sets = _resolve_grouping_sets(dims, None, "cube")
    expect = {}
    for s in sets:
        gid = _gid(dims, s)
        for r in agg.sketch(o, "o_custkey", by=s).collect():
            key = tuple((r[d] if d in s else None) for d in dims) + (gid,)
            expect[key] = bytes(r["sketch"])
    assert cube == expect


def test_cube_union_fallback_parity(udaf_spark, sf001_dir):
    """The no-jar path (engine=python, explode-based Expand) and the udaf
    path agree, for a rollup and for an explicit grouping-sets list."""
    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    dims = ["o_orderpriority", "o_orderstatus"]
    for kw in ({"mode": "rollup"}, {"sets": [["o_orderstatus"], []]}):
        u = _cells(agg.sketch_cube(o, "o_custkey", dims, engine="jvm_udaf", **kw), dims)
        j = _cells(agg.sketch_cube(o, "o_custkey", dims, engine="python", **kw), dims)
        assert u == j


def test_cube_null_dim_vs_rolled_up(udaf_spark):
    """An actual NULL key value and a rolled-up dim both show NULL in the
    dim column; grouping_id tells them apart (SQL semantics)."""
    rows = [("x", 1), ("x", 2), (None, 3), (None, 4), (None, 5)]
    df = udaf_spark.createDataFrame(rows, "g string, v int")
    est = agg.sketch_cube(df, "v", ["g"], finalize="estimate_bigint")
    got = {(r["g"], r["grouping_id"]): r["est"] for r in est.collect()}
    assert got == {("x", 0): 2, (None, 0): 3, (None, 1): 5}


def test_cube_all_null_value_group(udaf_spark):
    """NULL contract composes: a cell whose every value is NULL yields a
    SQL NULL sketch, including the rolled-up cells it feeds when they have
    no other rows."""
    rows = [("x", None), ("x", None), ("y", 7)]
    df = udaf_spark.createDataFrame(rows, "g string, v int")
    cells = _cells(agg.sketch_cube(df, "v", ["g"]), ["g"])
    assert cells[("x", 0)] is None
    assert cells[("y", 0)] is not None
    assert cells[(None, 1)] == cells[("y", 0)]  # global == y's cell (same value set)


def test_cube_single_scan_plan(udaf_spark, sf001_dir):
    """EVERY engine is one pass: the udaf path via Catalyst Expand (with no
    Python stage), the python engine via the explode-based Expand
    (Generate node)."""
    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    dims = ["o_orderpriority", "o_orderstatus"]
    plan = agg.sketch_cube(o, "o_custkey", dims, engine="jvm_udaf")._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1, plan
    assert "EvalPython" not in plan, plan  # the cube cells leave the JVM as canonical sketches
    # the cube reads the source exactly as often as ONE grouped sketch —
    # the explode Expand replaced the per-set union's |sets|× scans
    plan = agg.sketch_cube(o, "o_custkey", dims, engine="python")._jdf.queryExecution().executedPlan().toString()
    single = agg.sketch(o, "o_custkey", by=dims, engine="python")._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    assert plan.count("Scan parquet") == single.count("Scan parquet") == 1, plan


_SIBLING_PARAMS = {
    "countmin": {"width": 64, "depth": 3},
    "bloom": {"m_bits": 1 << 12, "k": 4},
    "minhash": {"k": 16},
    "tdigest": {"delta": 50},
    "kll": {"k": 64},
}


def test_sibling_cube_parity(udaf_spark, sf001_dir, quantile_ref):
    """sketches.build_cube: udaf single-scan cells byte-identical to per-set
    build() AND to the python engine's cube for the hash kinds; the
    quantile kinds stay in exact mode at this cardinality, so each cell is
    the direct python fold of its values (the python engine folds per
    partition, so its centroids are not a byte reference)."""
    from hllspark import sketches

    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    dims = ["o_orderstatus"]
    for kind, params in _SIBLING_PARAMS.items():
        u = _cells(sketches.build_cube(o, "o_custkey", kind, dims, engine="jvm_udaf", **params), dims)
        if kind not in ("tdigest", "kll"):
            j = _cells(sketches.build_cube(o, "o_custkey", kind, dims, engine="python", **params), dims)
            assert u == j, kind
        for s in ([dims[0]], []):
            gid = _gid(dims, s)
            for r in sketches.build(o, "o_custkey", kind, by=s, **params).collect():
                key = ((r[dims[0]] if s else None), gid)
                assert u[key] == bytes(r["sketch"]), (kind, key)
            if kind in ("tdigest", "kll"):
                for k, v in quantile_ref(o, "o_custkey", s, kind, **params).items():
                    assert u[(k[0] if s else None, gid)] == v, (kind, k)


def test_theta_cube_single_scan(udaf_spark, sf001_dir):
    """theta has no aggregate-buffer engine, but its cube is still ONE scan
    (explode-based Expand + one grouped python build), byte-identical to
    per-set builds; the jar engine refuses with the build() rationale."""
    from hllspark import sketches

    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    dims = ["o_orderstatus"]
    cube_df = sketches.build_cube(o, "o_custkey", "theta", dims, k=256)
    plan = cube_df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan and plan.count("Scan parquet") == 1, plan
    cells = _cells(cube_df, dims)
    expect = {}
    for s in ([dims[0]], []):
        gid = _gid(dims, s)
        for r in sketches.build(o, "o_custkey", "theta", by=s, engine="python", k=256).collect():
            expect[((r[dims[0]] if s else None), gid)] = bytes(r["sketch"])
    assert cells == expect
    with pytest.raises(ValueError, match="theta"):
        sketches.build_cube(o, "o_custkey", "theta", dims, engine="jvm_udaf", k=256)


def test_merge_stored_cube_matches_direct(udaf_spark, sf001_dir):
    """Rolling up from the FINEST stored sketches (no fact rescan) yields
    cells byte-identical to building each granularity from the facts, for
    hll, every exact-merge sibling, and theta.  Quantile kinds merge
    centroids/compactor levels (the canonical format has no exact mode),
    so their rolled-up cells are RANK-BOUNDED equivalent, not
    byte-identical — checked against exact per-cell quantiles."""
    import duckdb

    from hllspark import sketches

    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    dims = ["o_orderpriority", "o_orderstatus"]
    exact_merge = [("hll", {}), ("theta", {"k": 256})] + [
        (k, p) for k, p in _SIBLING_PARAMS.items() if k not in ("tdigest", "kll")
    ]
    for kind, params in exact_merge:
        if kind == "hll":
            finest = agg.sketch(o, "o_custkey", by=dims)
            direct = _cells(agg.sketch_cube(o, "o_custkey", dims, mode="rollup"), dims)
        else:
            finest = sketches.build(o, "o_custkey", kind, by=dims, **params)
            direct = _cells(
                sketches.build_cube(o, "o_custkey", kind, dims, mode="rollup", **params), dims
            )
        rolled = _cells(sketches.merge_stored_cube(finest, kind, dims, mode="rollup"), dims)
        assert rolled == direct, kind
    # quantile kinds: each rolled-up cell's q-estimates stay within a loose
    # rank window of the cell's exact quantiles (sketch within eps of exact
    # and merged-sketch within eps' of exact → both near the same values)
    pdf = o.select(*dims, "o_custkey").toPandas()
    for kind, params in (("tdigest", {"delta": 100}), ("kll", {"k": 256})):
        cls = {"tdigest": sketches.TDigest, "kll": sketches.KLL}[kind]
        finest = sketches.build(o, "o_custkey", kind, by=dims, **params)
        rolled = _cells(sketches.merge_stored_cube(finest, kind, dims, mode="rollup"), dims)
        for (p, s, gid), blob in rolled.items():
            sel = pdf
            if gid < 2:
                sel = sel[sel[dims[0]] == p]
            if gid < 1:
                sel = sel[sel[dims[1]] == s]
            vals = sel["o_custkey"].sort_values().to_numpy()
            sk = cls.from_bytes(blob)
            for q in (0.25, 0.5, 0.75):
                exact_q = vals[min(len(vals) - 1, int(q * len(vals)))]
                # rank of the sketch's quantile answer in the exact data
                r = (vals <= sk.quantile(q)).mean()
                assert abs(r - q) < 0.12, (kind, p, s, gid, q, r, exact_q)


def test_merge_stored_cube_null_cells(udaf_spark):
    """An all-NULL-value cell merges like any stored NULL sketch: it
    vanishes into non-NULL siblings, and a granularity cell is NULL only
    when every contributing finest cell is NULL."""
    from hllspark import sketches

    rows = [("x", "a", None), ("x", "b", None), ("y", "a", 1), ("y", "b", 2)]
    df = udaf_spark.createDataFrame(rows, "d1 string, d2 string, v long")
    finest = sketches.build(df, "v", "minhash", by=["d1", "d2"], k=16)
    cells = _cells(sketches.merge_stored_cube(finest, "minhash", ["d1", "d2"], mode="rollup"),
                   ["d1", "d2"])
    assert cells[("x", "a", 0)] is None and cells[("x", None, 1)] is None
    assert cells[("y", None, 1)] is not None and cells[(None, None, 3)] is not None
    with pytest.raises(ValueError, match="lacks dim"):
        sketches.merge_stored_cube(finest, "minhash", ["d1", "nope"])


def test_cube_estimates_within_bound(udaf_spark, sf001_dir):
    """Every granularity's estimate within the b=14 bound of the exact
    cube (computed by Spark's own countDistinct under the same cube)."""
    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    dims = ["o_orderpriority", "o_orderstatus"]
    est = agg.sketch_cube(o, "o_custkey", dims, finalize="estimate")
    exact = (
        o.cube(*dims)
        .agg(F.countDistinct("o_custkey").alias("exact"), F.grouping_id().cast("long").alias("grouping_id"))
    )
    keyed_est = {tuple(r[d] for d in dims) + (r["grouping_id"],): r["est"] for r in est.collect()}
    keyed_exact = {tuple(r[d] for d in dims) + (r["grouping_id"],): r["exact"] for r in exact.collect()}
    assert set(keyed_est) == set(keyed_exact) and len(keyed_est) >= 4
    bound = 1.04 / (2 ** 14) ** 0.5 * 1.5  # published bound + margin
    for k, e in keyed_est.items():
        assert abs(e - keyed_exact[k]) <= bound * keyed_exact[k], (k, e, keyed_exact[k])
