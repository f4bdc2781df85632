"""Physical-plan regression tests: the properties that make the engine hold
at 100 TB are plan shapes, not timings — column pruning to the scan, filter
pushdown into parquet, map-side partial aggregation ahead of the shuffle,
and whole-stage codegen on the hot path.  These assert the shapes directly
so a refactor that silently loses one fails fast.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def udaf(spark):
    ju = pytest.importorskip("hllspark.jvm_udaf")
    if not ju.available(spark):
        pytest.skip("udaf jar not loadable")
    return ju


def test_scan_prunes_to_value_column(spark, pages_small_dir, udaf):
    """The register reduction over (url) must read ONLY url from parquet."""
    pages = spark.read.parquet(pages_small_dir)
    plan = _plan(udaf.sketch_jvm_udaf(pages, "url", finalize="estimate"))
    assert "ReadSchema: struct<url:string>" in plan, plan
    # html/text (the wide columns) must not appear anywhere in the scan
    assert "html" not in plan and "text" not in plan


def test_filter_pushed_to_parquet(spark, pages_small_dir, udaf):
    pages = spark.read.parquet(pages_small_dir)
    plan = _plan(udaf.sketch_jvm_udaf(pages.filter(F.col("lang") == "en"), "url", finalize="estimate"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_partial_aggregation_before_shuffle(spark, pages_small_dir, udaf):
    """The HLL buffer must partial-aggregate map-side: one buffer row per
    (partition, key) crosses the exchange, never the raw rows."""
    pages = spark.read.parquet(pages_small_dir)
    plan = _plan(udaf.sketch_jvm_udaf(pages, "url", ["lang"], finalize="estimate"))
    exch = plan.index("Exchange hashpartitioning")
    # a partial aggregate appears BELOW (after, in toString order) the
    # exchange — i.e. on the map side
    below = plan[exch:]
    assert "partial_hllregisteraggregator" in below, plan
    assert "ObjectHashAggregate" in below


def test_whole_stage_codegen_on_hot_path(spark, pages_small_dir, udaf):
    """The per-row path below the aggregate — scan and filter — runs inside
    WholeStageCodegen spans, and the xxhash64 hash is the map-side
    aggregate's own input expression: no separate projection stage and no
    Python evaluation on the per-row path."""
    import contextlib
    import io
    import re

    pages = spark.read.parquet(pages_small_dir)
    q = udaf.sketch_jvm_udaf(pages.filter(F.col("lang") == "en"), "url", finalize="estimate")
    q.collect()  # under AQE, codegen subtrees exist only in the final plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("codegen")
    cg = buf.getvalue()
    assert "Found" in cg and "WholeStageCodegen subtrees" in cg, cg[:500]
    assert re.search(r"\*\(\d+\) Filter", cg) and re.search(r"\*\(\d+\) ColumnarToRow", cg), cg[:800]
    plan = _plan(q)
    hashed_input = r"partial_hllregisteraggregator\(CASE WHEN isnull\(url#\d+\) THEN null ELSE xxhash64\(url"
    assert re.search(hashed_input, plan), plan
    assert "EvalPython" not in plan, plan


def test_udaf_engine_plan_shape(spark, pages_small_dir):
    """engine=jvm_udaf must plan as ObjectHashAggregate (the
    TypedImperativeAggregate home) with a map-side partial before the
    exchange, one buffer row per (partition, key) crossing it, and the scan
    pruned to the value column — never the raw rows through the shuffle —
    and no Python stage: the aggregate's output is the canonical sketch."""
    ju = pytest.importorskip("hllspark.jvm_udaf")
    if not ju.available(spark):
        pytest.skip("udaf jar not loadable")
    pages = spark.read.parquet(pages_small_dir)
    out = ju.sketch_jvm_udaf(pages, "url", ["lang"])
    plan = _plan(out)
    assert "ObjectHashAggregate" in plan, plan
    assert (
        "ReadSchema: struct<url:string,lang:string>" in plan
        or "ReadSchema: struct<lang:string,url:string>" in plan
    ), plan
    assert "html" not in plan and "warc_ts" not in plan
    exch = plan.index("Exchange hashpartitioning")
    assert "ObjectHashAggregate" in plan[exch:], plan  # partial below the exchange
    assert "hllregisteraggregator" in plan.lower() or "HllRegisterAggregator".lower() in plan.lower(), plan
    assert "EvalPython" not in plan, plan


def test_quantile_udaf_plan_shape(spark, pages_small_dir):
    """Round-4 quantile aggregate buffers: ObjectHashAggregate with a
    map-side partial, the scan pruned to the value column, ONE exchange of
    buffer rows — the whole point is that a continuous column never
    shuffles one row per distinct value (as a groupBy(key, value).count()
    reduction would)."""
    ju = pytest.importorskip("hllspark.jvm_udaf")
    if not ju.available(spark):
        pytest.skip("udaf jar not loadable")
    pages = spark.read.parquet(pages_small_dir)
    src = pages.select("lang", F.unix_timestamp("warc_ts").alias("ts"))
    out = ju.tdigest_jvm_udaf(src, "ts", by=["lang"])
    plan = _plan(out)
    assert "ObjectHashAggregate" in plan, plan
    assert "html" not in plan and "url" not in plan
    exch = plan.index("Exchange hashpartitioning")
    assert "ObjectHashAggregate" in plan[exch:], plan  # partial below the exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan  # buffers only, once
    assert "tdigestaggregator" in plan.lower(), plan


def test_minhash_udaf_plan_shape(spark, pages_small_dir):
    ju = pytest.importorskip("hllspark.jvm_udaf")
    if not ju.available(spark):
        pytest.skip("udaf jar not loadable")
    pages = spark.read.parquet(pages_small_dir)
    out = ju.minhash_jvm_udaf(pages, "url", by=["lang"], k=32)
    plan = _plan(out)
    assert "ObjectHashAggregate" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "minhashaggregator" in plan.lower(), plan
    assert "EvalPython" not in plan, plan


_PYTHON_NODES = ("EvalPython", "MapInArrow", "InPandas")  # InPandas: MapInPandas, FlatMapGroupsInPandas, ...


def test_hash_sibling_udaf_plans_have_no_python_stage(spark, pages_small_dir, udaf):
    """Every sibling aggregator (count-min, Bloom, MinHash, t-digest, KLL)
    finishes to canonical sketch bytes, so neither their builders, nor
    their stored-blob merges, nor router.build's auto route for the
    quantile kinds add a Python stage."""
    from hllspark.sketches import router

    pages = spark.read.parquet(pages_small_dir)
    ts = pages.select("lang", F.unix_timestamp("warc_ts").alias("ts"))
    built = {
        "countmin": udaf.countmin_jvm_udaf(pages, "url", by=["lang"], width=64, depth=3),
        "bloom": udaf.bloom_jvm_udaf(pages, "url", by=["lang"], m_bits=1 << 12, k=3),
        "minhash": udaf.minhash_jvm_udaf(pages, "url", by=["lang"], k=16),
        "tdigest": udaf.tdigest_jvm_udaf(ts, "ts", by=["lang"]),
        "kll": udaf.kll_jvm_udaf(ts, "ts", by=["lang"]),
    }
    plans = {}
    for kind, out in built.items():
        plans[kind] = _plan(out)
        plans[f"{kind} merge"] = _plan(udaf.sibling_merge_udaf(out, kind, "sketch"))
    for kind in ("tdigest", "kll"):
        plans[f"{kind} router"] = _plan(router.build(ts, "ts", kind, by=["lang"]))
    for name, plan in plans.items():
        assert not any(node in plan for node in _PYTHON_NODES), (name, plan)


def test_sketch_stream_plans_have_no_python_stage(spark, tmp_path, monkeypatch, udaf):
    """With the jar loaded, a SketchStream micro-batch delta is one narrow
    JVM stage (HllPartialBuilder: no Exchange, no Python node) and
    estimates() one JVM merge-and-estimate aggregate.  A murmur-pinned
    stream (input_type="int64") still runs the python builder, which shows
    the check sees a Python stage when there is one."""
    from hllspark import agg
    from hllspark.streaming import SketchStream

    deltas = []
    build_partials = agg.build_partials

    def spy(*args, **kwargs):
        deltas.append(build_partials(*args, **kwargs))
        return deltas[-1]

    monkeypatch.setattr(agg, "build_partials", spy)
    batch = spark.createDataFrame([(f"k{i % 3}", i) for i in range(100)], "k string, v long")
    ss = SketchStream(str(tmp_path / "st"), "v", by=["k"])
    ss(batch, 0)
    ss(batch.where("v > 50"), 1)
    for plan in [_plan(deltas[0]), _plan(deltas[1])]:
        assert "MapPartitions" in plan and "Exchange" not in plan, plan
        assert not any(node in plan for node in _PYTHON_NODES), plan
    plan = _plan(ss.estimates(spark))
    assert not any(node in plan for node in _PYTHON_NODES), plan

    SketchStream(str(tmp_path / "murmur"), "v", by=["k"], input_type="int64")(batch, 0)
    assert "MapInArrow" in _plan(deltas[-1])


def _aggregates(df) -> tuple[str, int]:
    """(root node of the analyzed plan, number of Aggregate nodes in it)."""
    import re

    analyzed = df._jdf.queryExecution().analyzed()
    return analyzed.nodeName(), len(re.findall(r"^[\s:+|-]*Aggregate\b", analyzed.treeString(), re.M))


def _norm(v):
    """A float estimate to 1e-9 relative (the jar and numpy may differ in the last ulp)."""
    return float(f"{v:.9e}") if isinstance(v, float) else v


@pytest.mark.parametrize("finalize", ["sketch", "estimate", "estimate_bigint"])
def test_one_aggregate_per_call(spark, udaf, finalize):
    """sketch_jvm_udaf and hll_merge_udaf analyze to exactly one Aggregate
    with no Project above it: the finalize — sketch or in-JVM estimate —
    is the aggregate's own output expression.  The output columns, their
    types and values are the python engine's and hllspark.core's."""
    from hllspark import agg
    from hllspark.core.hll import HLL

    rows = [(f"k{i % 3}", None if i % 3 == 2 else i) for i in range(300)]
    df = spark.createDataFrame(rows, "k string, v long")
    ref = {r["k"]: r["sketch"] for r in agg.sketch(df, "v", ["k"], engine="python", jvm_prehash=True).collect()}
    stored = spark.createDataFrame(sorted(ref.items()), "k string, sketch binary")

    def want(blob):
        if finalize == "sketch":
            return blob
        est = None if blob is None else HLL.from_bytes(bytes(blob)).estimate()
        return (0 if est is None else round(est)) if finalize == "estimate_bigint" else est

    col, typ = {"sketch": ("sketch", "binary"), "estimate": ("est", "double"),
                "estimate_bigint": ("est", "bigint")}[finalize]
    for out in (udaf.sketch_jvm_udaf(df, "v", ["k"], finalize=finalize),
                udaf.hll_merge_udaf(stored, "sketch", ["k"], finalize=finalize)):
        assert _aggregates(out) == ("Aggregate", 1), out._jdf.queryExecution().analyzed().treeString()
        assert out.dtypes == [("k", "string"), (col, typ)]
        assert {r["k"]: _norm(r[col]) for r in out.collect()} == {k: _norm(want(b)) for k, b in ref.items()}


def test_cosine_pairs_lsh_exchange_reuse(spark, sf001_dir):
    """Round-5: cosine_pairs_lsh's candidate branches (small / oversized /
    sub-bucket / chain) all derive from ONE scan→GEMM→groupBy subtree; AQE
    must REUSE that exchange at runtime so the embedding scan + hyperplane
    GEMM executes once, not once per branch (statically the plan prints the
    subtree per branch — only the executed adaptive plan shows the reuse)."""
    from hllspark.pipeline import ann

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    p = ann.cosine_pairs_lsh(emb, threshold=0.5, dim=64, h=8)
    p.collect()
    plan = _plan(p)
    assert "ReusedExchange" in plan, plan
