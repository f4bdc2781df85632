"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exercises the hllspark surface (SURVEY.md §2) at sf=0.01 and
``oracle_sql()`` gives the DuckDB-checkable equivalent.  Because DuckDB
cannot evaluate our sketches, each approximate query returns the *exact*
answer (computed in Spark too) plus a boolean ``within_bound`` asserting the
sketch estimate is inside the published error envelope — the oracle returns
the same exact answer and literal TRUE.  Deterministic golden replays of the
reference regression suite (test/sql/aggs.ref, set_ops.ref) are compared as
micro-units (×10^6, rounded) against literal oracles.
"""

from __future__ import annotations

import math
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

BOUND_B14 = 1.04 / math.sqrt(2**14)  # 0.8125%
MARGIN = 3.0  # σ-multiple on the envelope


def _ensure_workers(spark: SparkSession) -> None:
    """Make hllspark importable on executors even when the driver process
    wasn't launched from the repo root: ship the --py-files zip."""
    try:
        import zipfile

        root = Path(__file__).resolve().parent
        zip_path = root / "dist" / "hllspark.zip"
        sources = sorted((root / "hllspark").rglob("*.py"))
        newest = max(p.stat().st_mtime for p in sources)
        if not zip_path.exists() or zip_path.stat().st_mtime < newest:
            zip_path.parent.mkdir(parents=True, exist_ok=True)
            with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
                for p in sources:
                    z.write(p, p.relative_to(root))
        if not getattr(spark.sparkContext, "_hllspark_shipped", False):
            spark.sparkContext.addPyFile(str(zip_path))
            spark.sparkContext._hllspark_shipped = True
    except Exception:
        pass  # already added, or running where cwd suffices


def _register(spark: SparkSession) -> None:
    from hllspark.functions import register_sql

    _ensure_workers(spark)
    register_sql(spark)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _ensure_workers(spark)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# approximate-vs-exact queries (exact value must match the oracle exactly;
# within_bound must be TRUE)
# ---------------------------------------------------------------------------


def _bound_check(est_df: DataFrame, exact_df: DataFrame, keys: list[str]) -> DataFrame:
    cond = (F.abs(F.col("est") - F.col("exact_cnt")) <= F.lit(MARGIN * BOUND_B14) * F.col("exact_cnt")) | (
        (F.col("exact_cnt") == 0) & (F.col("est") == 0)
    )
    if keys:
        j = est_df.join(exact_df, on=keys)
    else:
        j = est_df.crossJoin(exact_df)
    return j.select(*keys, "exact_cnt", cond.alias("within_bound")).orderBy(*keys) if keys else j.select(
        "exact_cnt", cond.alias("within_bound")
    )


def q_distinct_orderkey_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hyperloglog_distinct over a 60k-row fact table (global, two-phase)."""
    from hllspark import agg

    li = _read(spark, sf_dir, "lineitem")
    est = agg.distinct(li, "l_orderkey")
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_cnt"))
    return _bound_check(est, exact, [])


def q_distinct_custkey_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouped hyperloglog_accum + estimate per group key."""
    from hllspark import agg

    o = _read(spark, sf_dir, "orders")
    est = agg.distinct(o, "o_custkey", by=["o_orderpriority"])
    exact = o.groupBy("o_orderpriority").agg(F.countDistinct("o_custkey").alias("exact_cnt"))
    return _bound_check(est, exact, ["o_orderpriority"])


def q_cube_distinct_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg.sketch_cube: every granularity of GROUP BY CUBE(priority, status)
    distinct-custkey sketches in ONE scan (Catalyst Expand before the
    map-side partial aggregate) — the DataFrame equivalent of composing the
    reference's counters with SQL GROUPING SETS.  Rolled-up dims are
    reported as '(all)' so both engines order rows identically (Spark sorts
    NULLs first, DuckDB last); grouping_id keeps the SQL disambiguation."""
    from hllspark import agg

    o = _read(spark, sf_dir, "orders")
    dims = ["o_orderpriority", "o_orderstatus"]
    est = agg.sketch_cube(o, "o_custkey", dims, finalize="estimate")
    exact = o.cube(*dims).agg(
        F.countDistinct("o_custkey").alias("exact_cnt"),
        F.grouping_id().cast("long").alias("grouping_id"),
    )

    def sentinel(df):
        return df.select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("p"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("s"),
            *[c for c in ("grouping_id", "est", "exact_cnt") if c in df.columns],
        )

    j = sentinel(est).join(sentinel(exact), on=["p", "s", "grouping_id"])
    cond = F.abs(F.col("est") - F.col("exact_cnt")) <= F.lit(MARGIN * BOUND_B14) * F.col("exact_cnt")
    return j.select(
        "p", "s", "grouping_id", "exact_cnt", cond.alias("within_bound")
    ).orderBy("grouping_id", "p", "s")


def q_cube_from_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketches.merge_stored_cube: every ROLLUP granularity derived by
    MERGING the finest-granularity stored sketches — zero fact-table passes
    past the finest build (the reference's sum(counter) workflow generalized
    to GROUPING SETS; hll_merge_udaf blob merge in-JVM when the jar loads).
    Checks estimates against exact counts AND that every derived cell is
    byte-identical to the directly-built cube cell (merge determinism)."""
    from hllspark import agg, sketches

    o = _read(spark, sf_dir, "orders")
    dims = ["o_orderpriority", "o_orderstatus"]
    finest = agg.sketch(o, "o_custkey", by=dims)
    rolled = sketches.merge_stored_cube(finest, "hll", dims, mode="rollup")
    direct = agg.sketch_cube(o, "o_custkey", dims, mode="rollup")
    exact = o.rollup(*dims).agg(
        F.countDistinct("o_custkey").alias("exact_cnt"),
        F.grouping_id().cast("long").alias("grouping_id"),
    )

    def sentinel(df, sk=None):
        cols = [
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("p"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("s"),
            "grouping_id",
        ]
        if sk is not None:
            cols.append(F.col("sketch").alias(sk))
        elif "exact_cnt" in df.columns:
            cols.append("exact_cnt")
        return df.select(*cols)

    from hllspark.functions import hll_estimate

    j = (
        sentinel(rolled, "sk_rolled")
        .join(sentinel(direct, "sk_direct"), on=["p", "s", "grouping_id"])
        .join(sentinel(exact), on=["p", "s", "grouping_id"])
    )
    est = hll_estimate(F.col("sk_rolled"))
    cond = F.abs(est - F.col("exact_cnt")) <= F.lit(MARGIN * BOUND_B14) * F.col("exact_cnt")
    return j.select(
        "p",
        "s",
        "grouping_id",
        "exact_cnt",
        cond.alias("within_bound"),
        (F.col("sk_rolled") == F.col("sk_direct")).alias("matches_direct"),
    ).orderBy("grouping_id", "p", "s")


def q_stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline.sample.stratified_sample: reproducible k-per-stratum sample
    by hash rank.  The contract rows use an md5 rank BOTH engines can
    compute, so DuckDB re-derives the exact same sampled (lang, doc_id)
    set independently — row-for-row, not a pinned literal.  The fold plan
    (bounded P×k-per-stratum candidates, the 100 TB path) is checked
    in-query against the window plan on the default xxhash64 rank."""
    from hllspark.pipeline.sample import stratified_sample

    d = _read(spark, sf_dir, "documents")
    rank = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("7")))
    sampled = stratified_sample(d, ["lang"], 10, ["doc_id"], rank=rank, method="window")
    fold = stratified_sample(d, ["lang"], 10, ["doc_id"], seed=7, method="fold")
    win = stratified_sample(d, ["lang"], 10, ["doc_id"], seed=7, method="window")
    f_keys = fold.select("lang", "doc_id")
    w_keys = win.select("lang", "doc_id")
    parity = f_keys.exceptAll(w_keys).unionAll(w_keys.exceptAll(f_keys)).isEmpty()
    return sampled.select(
        "lang", "doc_id", F.lit(bool(parity)).alias("fold_matches_window")
    ).orderBy("lang", "doc_id")


def q_distinct_users_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hllspark import agg

    e = _read(spark, sf_dir, "events")
    est = agg.distinct(e, "user_id", by=["event_type"])
    exact = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_cnt"))
    return _bound_check(est, exact, ["event_type"])


def q_distinct_partsupp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct over a composite value (string concat) — exercises the UTF-8
    hashing path on a JVM-computed projection."""
    from hllspark import agg

    li = _read(spark, sf_dir, "lineitem").withColumn(
        "pair", F.concat_ws("|", F.col("l_partkey"), F.col("l_suppkey"))
    )
    est = agg.distinct(li, "pair")
    exact = li.agg(F.countDistinct("pair").alias("exact_cnt"))
    return _bound_check(est, exact, [])


def q_reagg_stored_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(counter) workflow: per-group sketches re-merged to a global
    estimate with NO raw-data pass (README.md:135-166); checks the merged
    estimate equals the direct global sketch byte-for-byte via estimates."""
    from hllspark import agg
    from hllspark.functions import hll_estimate

    o = _read(spark, sf_dir, "orders")
    per_group = agg.sketch(o, "o_custkey", by=["o_orderpriority"])
    remerged = agg.merge_partials(per_group.select("sketch"))
    est = remerged.select(hll_estimate("sketch").alias("est"))
    direct = agg.sketch(o, "o_custkey").select(hll_estimate("sketch").alias("est_direct"))
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_cnt"))
    j = est.crossJoin(direct).crossJoin(exact)
    return j.select(
        "exact_cnt",
        (F.abs(F.col("est") - F.col("exact_cnt")) <= F.lit(MARGIN * BOUND_B14) * F.col("exact_cnt")).alias("within_bound"),
        (F.col("est") == F.col("est_direct")).alias("merge_matches_direct"),
    )


def q_distinct_pages_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship shape: per-lang distinct URLs over the Common-Crawl-style
    pages table (BASELINE.json north_star), skewed lang distribution."""
    from hllspark import agg
    from hllspark.pipeline.pages import ensure_small

    path = str(ensure_small(Path(__file__).resolve().parent))
    pages = spark.read.parquet(path)
    est = agg.distinct(pages, "url", by=["lang"])
    exact = pages.groupBy("lang").agg(F.countDistinct("url").alias("exact_cnt"))
    return _bound_check(est, exact, ["lang"])


def q_extract_text_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint per-row invariant: text extracted from html must be
    byte-identical to the reference extraction for every url.  The operator
    (pipeline.text.extract_text: tag runs → newline, trim) runs in Spark;
    the DuckDB oracle re-derives the same extraction independently and both
    count exact matches against the stored text column."""
    from hllspark.pipeline.pages import ensure_small
    from hllspark.pipeline.text import extract_text

    path = str(ensure_small(Path(__file__).resolve().parent))
    pages = spark.read.parquet(path)
    return pages.select(
        F.count("*").alias("n_rows"),
        F.sum((extract_text("html") == F.col("text")).cast("long")).alias("n_byte_identical"),
    )


# ---------------------------------------------------------------------------
# golden replays (deterministic to 10 decimals → compared in micro-units)
# ---------------------------------------------------------------------------


def _golden_df(spark: SparkSession, rows: list[tuple[str, float]]) -> DataFrame:
    return spark.createDataFrame(
        [(name, int(round(val * 1_000_000))) for name, val in rows], "fixture string, est_micro long"
    )


def q_golden_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference regression goldens (aggs.ref:29-69) recomputed through the
    full Spark pipeline with int32 datum hashing."""
    from hllspark import agg
    from hllspark.functions import hll_estimate

    out = []
    for n in (1, 100, 1020, 10000, 100000):
        df = spark.range(1, n + 1).select(F.col("id").cast("int").alias("i"))
        sk = agg.sketch(df, "i", input_type="int32")
        est = sk.select(hll_estimate("sketch")).first()[0]
        out.append((f"n={n:06d}", est))
    return _golden_df(spark, out)


def q_golden_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation goldens (set_ops.ref): disjoint intersection, mixed-size
    union, compliment — evaluated through the SQL UDF surface."""
    from hllspark import agg

    _register(spark)
    a10k = spark.range(1, 10001).select(F.col("id").cast("int").alias("i"))
    neg = spark.range(1, 10001).select((-F.col("id")).cast("int").alias("i"))
    a1k = spark.range(1, 1001).select(F.col("id").cast("int").alias("i"))
    b2k = spark.range(1, 2001).select(F.col("id").cast("int").alias("i"))
    s = {
        "a10k": agg.sketch(a10k, "i", input_type="int32").withColumnRenamed("sketch", "a"),
        "neg": agg.sketch(neg, "i", input_type="int32").withColumnRenamed("sketch", "b"),
    }
    pair = s["a10k"].crossJoin(s["neg"])
    pair.createOrReplaceTempView("pair_disjoint")
    inter = spark.sql("SELECT hll_intersection(a, b) AS v FROM pair_disjoint").first()["v"]
    u12 = (
        agg.sketch(a1k, "i", input_type="int32")
        .withColumnRenamed("sketch", "a")
        .crossJoin(agg.sketch(b2k, "i", input_type="int32").withColumnRenamed("sketch", "b"))
    )
    u12.createOrReplaceTempView("pair_mixed")
    union_mixed = spark.sql("SELECT hll_union_estimate(a, b) AS v FROM pair_mixed").first()["v"]
    return _golden_df(
        spark,
        [("disjoint_10k_intersection", inter), ("union_1k_2k", union_mixed)],
    )


def q_golden_grouped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation golden (aggs.ref:1448-1508): 100 groups × 400,
    per-group accum then merge-aggregate; sum() → 39920."""
    from hllspark import agg
    from hllspark.functions import hll_estimate_bigint

    df = (
        spark.range(1, 101)
        .select(F.col("id").alias("g"))
        .join(spark.range(1, 401).select(F.col("id").alias("m")))
        .select(F.col("g"), (F.col("g") * 400 + F.col("m")).cast("int").alias("v"))
    )
    per_group = agg.sketch(df, "v", by=["g"], input_type="int32")
    merged = agg.merge_partials(per_group.select("sketch"))
    return merged.select(hll_estimate_bigint("sketch").alias("sum_est"))


# ---------------------------------------------------------------------------
# sibling sketches (SURVEY.md §2.8)
# ---------------------------------------------------------------------------


def q_countmin_event_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count-min point queries vs exact frequencies (est ∈ [exact, exact+3εN])."""
    import pandas as pd

    from hllspark import agg
    from hllspark.core.hash import hash_strings
    from hllspark.sketches import CountMin

    e = _read(spark, sf_dir, "events")
    cm = CountMin.from_bytes(
        bytes(agg.sketch_generic(e, "event_type", lambda: CountMin.create(width=4096, depth=5), CountMin).first()["sketch"])
    )
    exact = {r["event_type"]: r["c"] for r in e.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
    keys = sorted(exact)
    est = cm.query_hashes(hash_strings(pd.Series(keys)))
    bound = 3 * cm.epsilon * cm.total
    rows = [(k, int(exact[k]), bool(exact[k] <= int(v) <= exact[k] + bound)) for k, v in zip(keys, est)]
    return spark.createDataFrame(rows, "event_type string, exact_freq long, within_bound boolean")


def q_tdigest_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles checked in RANK space (≤2% rank error)."""
    from hllspark import agg
    from hllspark.sketches import TDigest

    li = _read(spark, sf_dir, "lineitem")
    td = TDigest.from_bytes(
        bytes(agg.sketch_generic(li, "l_extendedprice", lambda: TDigest.create(delta=100), TDigest).first()["sketch"])
    )
    n = li.count()
    rows = []
    for name, q in (("q10", 0.1), ("q50", 0.5), ("q90", 0.9)):
        v = td.quantile(q)
        rank = li.filter(F.col("l_extendedprice") <= v).count() / n
        rows.append((name, bool(abs(rank - q) <= 0.02)))
    return spark.createDataFrame(rows, "quantile string, within_bound boolean")


def q_kll_quantity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hllspark import agg
    from hllspark.sketches import KLL

    li = _read(spark, sf_dir, "lineitem")
    k = KLL.from_bytes(
        bytes(agg.sketch_generic(li, "l_quantity", lambda: KLL.create(k=200), KLL).first()["sketch"])
    )
    n = li.count()
    rows = []
    for name, q in (("q25", 0.25), ("q50", 0.5), ("q75", 0.75)):
        v = k.quantile(q)
        # l_quantity is discrete; rank of the returned value must bracket q
        lo = li.filter(F.col("l_quantity") < v).count() / n
        hi = li.filter(F.col("l_quantity") <= v).count() / n
        rows.append((name, bool(lo - 0.03 <= q <= hi + 0.03)))
    return spark.createDataFrame(rows, "quantile string, within_bound boolean")


def q_quantiles_jvm_builders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile builders through sketches.build(engine="auto") — the jar's
    aggregate buffers in exact mode (value→count buffer + one weighted fold
    per key) when the jar loads, else the python engine: t-digest global
    over l_extendedprice, KLL grouped by l_returnflag over l_quantity — both
    checked in rank space like the python-engine quantile queries."""
    from hllspark import sketches
    from hllspark.sketches import KLL, TDigest

    li = _read(spark, sf_dir, "lineitem")
    # exact_capacity above the ~50k distinct prices keeps the jar in exact mode
    td_df = sketches.build(li, "l_extendedprice", "tdigest", exact_capacity=200_000)
    td = TDigest.from_bytes(bytes(td_df.first()["sketch"]))
    n = li.count()
    rows = []
    for name, q in (("td_q10", 0.1), ("td_q50", 0.5), ("td_q90", 0.9)):
        v = td.quantile(q)
        rank = li.filter(F.col("l_extendedprice") <= v).count() / n
        rows.append((name, bool(abs(rank - q) <= 0.02)))
    klls = {
        r["l_returnflag"]: KLL.from_bytes(bytes(r["sketch"]))
        for r in sketches.build(li, "l_quantity", "kll", by=["l_returnflag"]).collect()
    }
    for flag in sorted(klls):
        v = klls[flag].quantile(0.5)
        grp = li.filter(F.col("l_returnflag") == flag)
        tot = grp.count()
        lo = grp.filter(F.col("l_quantity") < v).count() / tot
        hi = grp.filter(F.col("l_quantity") <= v).count() / tot
        rows.append((f"kll_{flag}_q50", bool(lo - 0.03 <= 0.5 <= hi + 0.03)))
    return spark.createDataFrame(rows, "quantile string, within_bound boolean")


def q_bloom_orderkey_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from hllspark import agg
    from hllspark.core.hash import hash_int64
    from hllspark.sketches import Bloom

    o = _read(spark, sf_dir, "orders")
    bf = Bloom.from_bytes(
        bytes(agg.sketch_generic(o, "o_orderkey", lambda: Bloom.create(m_bits=1 << 20, k=7), Bloom).first()["sketch"])
    )
    present = np.array([r[0] for r in o.select("o_orderkey").limit(1000).collect()], dtype=np.int64)
    absent = np.arange(10**12, 10**12 + 20_000, dtype=np.int64)
    no_false_neg = bool(bf.contains_hashes(hash_int64(present)).all())
    fp = float(bf.contains_hashes(hash_int64(absent)).mean())
    return spark.createDataFrame(
        [(no_false_neg, bool(fp <= 3 * max(bf.fp_rate(), 1e-4)))], "no_false_negatives boolean, fp_rate_ok boolean"
    )


def q_minhash_jaccard_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard of two real sets vs the exact Jaccard (SQL-checkable)."""
    from hllspark import agg
    from hllspark.sketches import MinHash

    li = _read(spark, sf_dir, "lineitem")
    a = MinHash.from_bytes(
        bytes(
            agg.sketch_generic(
                li.filter(F.col("l_returnflag") == "A"), "l_partkey", lambda: MinHash.create(k=256), MinHash
            ).first()["sketch"]
        )
    )
    r = MinHash.from_bytes(
        bytes(
            agg.sketch_generic(
                li.filter(F.col("l_returnflag") == "R"), "l_partkey", lambda: MinHash.create(k=256), MinHash
            ).first()["sketch"]
        )
    )
    sa = li.filter(F.col("l_returnflag") == "A").select("l_partkey").distinct()
    sr = li.filter(F.col("l_returnflag") == "R").select("l_partkey").distinct()
    inter = sa.intersect(sr).count()
    union = sa.union(sr).distinct().count()
    exact_j = inter / union
    est = a.jaccard(r)
    # σ = sqrt(J(1-J)/k); allow 4σ
    sigma = (exact_j * (1 - exact_j) / 256) ** 0.5
    return spark.createDataFrame(
        [(int(inter), int(union), bool(abs(est - exact_j) <= 4 * sigma + 1e-9))],
        "exact_inter long, exact_union long, within_bound boolean",
    )


# ---------------------------------------------------------------------------
# training-data pipeline ops (dedup / text / ANN)
# ---------------------------------------------------------------------------


def q_token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hllspark.pipeline import text

    d = _read(spark, sf_dir, "documents")
    return d.agg(F.sum(text.token_count("text")).alias("total_tokens"))


def q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hllspark.pipeline import text

    d = text.quality_features(_read(spark, sf_dir, "documents"))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("q_chars") == F.col("n_chars"), 1).otherwise(0)).alias("chars_match"),
        F.sum(F.when(F.col("q_score") >= 0.75, 1).otherwise(0)).alias("high_quality"),
    )


def q_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hllspark.pipeline import dedup

    d = _read(spark, sf_dir, "documents")
    kept = dedup.exact_dedup(d, "text", "doc_id", normalize=False).count()
    return spark.createDataFrame([(int(kept),)], "kept long")


def q_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic near-dup pair count over the documents table (the
    fixture ships ~25 built-in J≥0.92 pairs; signatures are seed-fixed)."""
    from hllspark.pipeline import dedup

    d = _read(spark, sf_dir, "documents")
    n = dedup.verified_pairs(d, "doc_id", "text", k=128, bands=32, threshold=0.8).count()
    return spark.createDataFrame([(int(n),)], "n_pairs long")


def q_jaccard_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 exact n-gram Jaccard dedup: MinHash-LSH candidates verified
    with the EXACT char-12-gram set Jaccard (hllspark/pipeline/dedup.py
    jaccard_pairs).  Unlike the estimate-based pair queries, the oracle here
    is fully independent: DuckDB enumerates EVERY 12-gram, self-joins, and
    counts all pairs with true J >= 0.9 exhaustively — the LSH candidate
    path must recover the identical complete answer (collision miss
    probability at J=0.9, k=128/bands=32 is ~5e-15).  mode="exhaustive" so
    an oversized band bucket (if a fixture ever produced one) enumerates its
    complete pair set instead of a connected subset — the completeness claim
    must not silently depend on bucket sizes staying under max_bucket."""
    from hllspark.pipeline import dedup

    d = _read(spark, sf_dir, "documents")
    n = dedup.jaccard_pairs(d, threshold=0.9, ngram=12, k=128, bands=32, mode="exhaustive").count()
    return spark.createDataFrame([(int(n),)], "n_pairs long")


def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hllspark.pipeline import dedup

    d = _read(spark, sf_dir, "documents")
    sim = dedup.simhash_signatures(d, "doc_id", "text")
    n = dedup.simhash_near_pairs(sim, "doc_id", max_hamming=3).count()
    return spark.createDataFrame([(int(n),)], "n_pairs long")


def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for vec_id=0 — DuckDB recomputes exactly."""
    import numpy as np

    from hllspark.pipeline import ann

    emb = _read(spark, sf_dir, "embeddings")
    q0 = np.array(emb.filter(F.col("vec_id") == 0).first()["embedding"], dtype=np.float32)
    top = ann.topk_cosine(emb, q0[None, :], k=10)[0]
    return spark.createDataFrame([(int(i),) for i, _ in top], "vec_id long")


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints reduced to order-independent scalar
    aggregates (count of fingerprints, and a modular sum of the per-doc
    minimum fingerprint — deterministic, checked against literals computed
    by the scalar reference implementation)."""
    from hllspark.pipeline.text import fingerprint_documents

    d = _read(spark, sf_dir, "documents")
    fps = fingerprint_documents(d)
    return fps.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("fps")).alias("fp_total"),
        F.sum(F.pmod(F.element_at("fps", 1), F.lit(1000003))).alias("min_fp_modsum"),
    )


def q_streaming_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming surface, oracle-checked: file-source micro-batches
    (maxFilesPerTrigger=1) through the SketchStream foreachBatch sink; the
    final per-key state must estimate within the batch bound — merge
    determinism makes the result independent of micro-batch boundaries."""
    import tempfile

    from hllspark.streaming import SketchStream

    e = _read(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="hllspark_stream_contract_")
    src = f"{base}/src"
    e.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", "1").parquet(src)
    ss = SketchStream(f"{base}/state", "user_id", by=["event_type"])
    q = (
        stream.writeStream.foreachBatch(ss)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    est = ss.estimates(spark)
    exact = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_cnt"))
    return _bound_check(est, exact, ["event_type"])


def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline) — DuckDB recomputes
    with list_cosine_similarity.  Threshold 0.5 sits between the fixture's
    top two pair cosines (0.513 / 0.493), so float rounding can't flip it."""
    from hllspark.pipeline import ann

    emb = _read(spark, sf_dir, "embeddings")
    return ann.cosine_pairs(emb, threshold=0.5).orderBy("a", "b")


def q_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hyperloglog_accum at varying precisions (north_star: estimates vs
    exact across b): each b's estimate must sit inside 3·1.04/√(2^b)."""
    from hllspark import agg

    li = _read(spark, sf_dir, "lineitem")
    exact = li.select(F.countDistinct("l_partkey")).first()[0]
    rows = []
    for b in (10, 12, 14, 16):
        est = agg.distinct(li, "l_partkey", b=b).first()["est"]
        bound = 3 * 1.04 / math.sqrt(2**b)
        rows.append((b, int(exact), bool(abs(est - exact) <= bound * exact)))
    return spark.createDataFrame(rows, "b int, exact_cnt long, within_bound boolean")


def q_lang_id_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hllspark.pipeline import text

    samples = [
        (1, "The weather is nice today and the children are playing in the park."),
        (2, "El tiempo es agradable hoy y los niños juegan en el parque."),
        (3, "Das Wetter ist heute schön und die Kinder spielen im Park."),
        (4, "Le temps est agréable aujourd'hui et les enfants jouent dans le parc."),
        (5, "Погода сегодня хорошая и дети играют в парке."),
        (6, "今天天气很好孩子们在公园里玩耍非常开心。"),
        (7, "今日は天気がよくて子供たちは公園で遊んでいます。"),
    ]
    df = spark.createDataFrame(samples, "id int, t string")
    return df.select("id", text.lang_id(F.col("t")).alias("pred")).orderBy("id")


def q_compression_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compression.sql analogue: serialized size of hll_comp(accum(1..n)) at
    the reference's checkpoints.  Our sparse group-varint payloads match the
    reference's compressed sizes byte-for-byte (compression.ref minus the
    16-vs-8-byte header delta); dense compresses zlib-over-raw-registers
    (the reference's PGLZ scheme: 2133 B there vs 1569 here @ n=1021)."""
    from hllspark import agg

    _register(spark)
    rows = []
    for n in (1, 100, 500, 1000, 1020, 1021):
        df = spark.range(1, n + 1).select(F.col("id").cast("int").alias("i"))
        sk = agg.sketch(df, "i", input_type="int32", engine="python", jvm_prehash=False)
        sk.createOrReplaceTempView("sk_comp_tmp")
        nbytes = spark.sql("SELECT hll_length(hll_comp(sketch)) AS n FROM sk_comp_tmp").first()["n"]
        rows.append((f"n={n:06d}", int(nbytes)))
    return spark.createDataFrame(rows, "fixture string, nbytes long")


def q_reference_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference v2 WIRE interop end-to-end on the Spark surface: murmur
    sketches over the reference's own generate_series shapes exported as
    current-version (v2) counters (hll_export_reference — the exact bytea
    hyperloglog_in ingests), then re-imported (hll_import_reference).  The
    exported counter's stored VARSIZE must equal the reference's own
    compression.ref regression outputs EXACTLY — for the dense rows that
    pins the PGLZ encoder (core/pglz.py replicates Postgres's
    pglz_compress/strategy_always byte-for-byte, golden-tested against the
    real compressed payloads inside the update.sql fixtures) — and the
    re-import must restore the canonical sketch byte-identically."""
    from hllspark import agg

    _register(spark)
    rows = []
    for n in (1, 100, 500, 1000, 1020, 1021, 10000):
        df = spark.range(1, n + 1).select(F.col("id").cast("int").alias("i"))
        sk = agg.sketch(df, "i", input_type="int32", engine="python", jvm_prehash=False)
        sk.createOrReplaceTempView("sk_ref_tmp")
        r = spark.sql(
            # +8: the reference's VARSIZE counts its 4-byte varlena plus
            # sizeof(HLLData) struct-tail slack over our bytea payload
            "SELECT hll_length(hll_export_reference(sketch)) + 8 AS ref_varsize, "
            "hll_import_reference(hll_export_reference(sketch)) = sketch AS roundtrip_identical "
            "FROM sk_ref_tmp"
        ).first()
        rows.append((f"n={n:06d}", int(r["ref_varsize"]), bool(r["roundtrip_identical"])))
    return spark.createDataFrame(
        rows, "fixture string, ref_varsize long, roundtrip_identical boolean"
    )


def q_null_group_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference NULL contract (hyperloglog_counter.c:511-513): a group whose
    every value is NULL estimates SQL NULL (not 0 / not an empty sketch)."""
    from hllspark import agg

    o = _read(spark, sf_dir, "orders")
    df = o.select(
        "o_orderpriority",
        F.when(F.col("o_orderpriority") == "1-URGENT", None).otherwise(F.col("o_custkey")).alias("v"),
    )
    est = agg.distinct(df, "v", by=["o_orderpriority"])
    exact = df.groupBy("o_orderpriority").agg(F.countDistinct("v").alias("exact_cnt"))
    j = est.join(exact, "o_orderpriority")
    ok = F.col("est").isNull() | (
        F.abs(F.col("est") - F.col("exact_cnt")) <= F.lit(MARGIN * BOUND_B14) * F.col("exact_cnt")
    )
    return j.select(
        "o_orderpriority",
        "exact_cnt",
        F.col("est").isNull().alias("est_is_null"),
        ok.alias("within_bound"),
    ).orderBy("o_orderpriority")


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-codec decode + feature extract through the real Arrow plumbing,
    reduced to order-independent scalar aggregates (per-image values are
    micro-rounded BEFORE summing so partition order can't flip a rounding),
    checked against deterministic literals in the DuckDB oracle."""
    from pyspark.sql import Row

    from hllspark.pipeline import multimodal as mm

    codec = mm.FakeCodec()
    rows = [
        Row(media_id=i, payload=codec.make_image(32, 24, seed=i), meta=None) for i in range(50)
    ]
    df = spark.createDataFrame(rows, mm.media_schema())
    feats = mm.image_features(df, codec=codec)
    return feats.agg(
        F.count("*").alias("n_images"),
        F.sum("width").alias("width_sum"),
        F.sum("height").alias("height_sum"),
        F.sum(F.round(F.col("mean") * 1e6).cast("long")).alias("mean_micro_sum"),
        F.sum(F.round(F.col("std") * 1e6).cast("long")).alias("std_micro_sum"),
        F.sum(F.aggregate("hist", F.lit(0).cast("long"), lambda a, x: a + x)).alias("hist_total"),
    )


# ---------------------------------------------------------------------------
# contract entry points
# ---------------------------------------------------------------------------


def q_distinct_custkey_jvm_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """engine="jvm_udaf" FORCED: the aggregate-buffer engine (typed JVM
    Aggregator → TypedImperativeAggregate, jvm/src) end-to-end, global and
    grouped results in one frame.  Where the jar can't load, engine="auto"
    runs the python engine — estimates are identical either way
    (byte-identical sketches, tests/test_jvm_udaf.py)."""
    from hllspark import agg, jvm_udaf

    o = _read(spark, sf_dir, "orders")
    engine = "jvm_udaf" if jvm_udaf.available(spark) else "auto"
    est = agg.distinct(o, "o_custkey", by=["o_orderpriority"], engine=engine)
    exact = o.groupBy("o_orderpriority").agg(F.countDistinct("o_custkey").alias("exact_cnt"))
    return _bound_check(est, exact, ["o_orderpriority"])


def q_exhaustive_bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oversized-LSH-bucket enumeration modes on a synthetic 1000-member
    bucket at max_bucket=100 (deterministic: sub-bucketing is
    pmod(xxhash64(id), 10)): exhaustive mode must produce the complete
    C(1000,2) = 499500 pair set; connected mode the salt-split subset
    (within-sub-bucket pairs + 9 chain edges = 49831); a 10k pair budget
    forces the exhaustive call back to the connected path."""
    from hllspark.pipeline import dedup

    bucket = spark.range(1000).agg(F.collect_list("id").alias("ids")).select(
        F.lit(0).alias("band"), F.lit(0).cast("long").alias("bh"), "ids"
    )
    args = (bucket, ["band", "bh"])
    n_ex = dedup._split_oversized(*args, max_bucket=100, mode="exhaustive").count()
    n_conn = dedup._split_oversized(*args, max_bucket=100, mode="connected").count()
    n_fb = dedup._split_oversized(
        *args, max_bucket=100, mode="exhaustive", exhaustive_budget=10_000
    ).count()
    return spark.createDataFrame(
        [(n_ex, n_conn, n_fb)], "n_exhaustive long, n_connected long, n_budget_fallback long"
    )


def q_countmin_bloom_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountMin + Bloom AGGREGATE-BUFFER builders (jvm/src typed Aggregators)
    end-to-end: point-frequency bounds AND membership of every event type.
    sketches.build(engine="auto") runs the python engine where the jar
    can't load — sketches are byte-identical either way
    (tests/test_jvm_udaf.py)."""
    import pandas as pd

    from hllspark import sketches
    from hllspark.core.xxhash import xxh64_strings
    from hllspark.sketches import Bloom, CountMin

    e = _read(spark, sf_dir, "events")
    cm_df = sketches.build(e, "event_type", "countmin", width=4096, depth=5)
    bf_df = sketches.build(e, "event_type", "bloom", m_bits=1 << 16, k=5)
    cm = CountMin.from_bytes(bytes(cm_df.first()["sketch"]))
    bf = Bloom.from_bytes(bytes(bf_df.first()["sketch"]))
    exact = {r["event_type"]: r["c"] for r in e.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
    keys = sorted(exact)
    h = xxh64_strings(pd.Series(keys))  # hash_kind=HASH_XXHASH_SPARK probes
    est = cm.query_hashes(h)
    member = bf.contains_hashes(h)
    bound = 3 * cm.epsilon * cm.total
    rows = [
        (k, int(exact[k]), bool(exact[k] <= int(v) <= exact[k] + bound) and bool(m))
        for k, v, m in zip(keys, est, member)
    ]
    return spark.createDataFrame(rows, "event_type string, exact_freq long, within_bound boolean")


def _quantile_fold(df: DataFrame, col: str, cls):
    """Canonical bytes of the direct python quantile build: one sorted
    weighted fold over the column's distinct values — what the jar's exact
    mode reproduces byte-for-byte."""
    import numpy as np

    vals, counts = np.unique(
        np.array([r[0] for r in df.select(F.col(col).cast("double")).collect()], dtype=np.float64),
        return_counts=True,
    )
    st = cls.create()
    st.update_weighted(vals, counts)
    return st.to_bytes()


def q_quantiles_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 quantile AGGREGATE-BUFFER builders (TDigestAggregator /
    KllAggregator, jvm/src): exact mode must be byte-identical to the
    direct python fold (checked inline), and the bounded DIGEST mode — the
    scale path for continuous columns, where an exact reduction would ship
    one row per distinct value — must stay inside the rank-error bounds on
    a ~60k-distinct continuous column forced past a small exact_capacity.
    Without the jar the python fold itself is checked (the digest-mode rows
    are then vacuous)."""
    from hllspark import jvm_udaf
    from hllspark.sketches import KLL, TDigest

    li = _read(spark, sf_dir, "lineitem")
    n = li.count()
    ref_td = _quantile_fold(li, "l_extendedprice", TDigest)
    rows = []
    if jvm_udaf.available(spark):
        # exact_capacity must exceed the column's distinct count for the
        # byte-parity contract (sf0.01 l_extendedprice has ~50k distinct)
        td_b = bytes(jvm_udaf.tdigest_jvm_udaf(li, "l_extendedprice", exact_capacity=200_000).first()["sketch"])
        kll_b = bytes(jvm_udaf.kll_jvm_udaf(li, "l_quantity").first()["sketch"])
        exact_parity = td_b == ref_td and kll_b == _quantile_fold(li, "l_quantity", KLL)
        # continuous column, digest mode forced (exact_capacity << distinct)
        cont = li.select((F.col("l_extendedprice") + F.col("l_orderkey") / F.lit(1e9)).alias("v"))
        dig = TDigest.from_bytes(
            bytes(jvm_udaf.tdigest_jvm_udaf(cont, "v", exact_capacity=500).first()["sketch"])
        )
        kdig = KLL.from_bytes(bytes(jvm_udaf.kll_jvm_udaf(cont, "v", exact_capacity=500).first()["sketch"]))
        for name, sk, tol in (("td_digest_ranks", dig, 0.02), ("kll_compactor_ranks", kdig, 0.03)):
            ok = True
            for q in (0.1, 0.5, 0.9):
                rank = cont.filter(F.col("v") <= sk.quantile(q)).count() / n
                ok = ok and abs(rank - q) <= tol
            rows.append((name, bool(ok)))
    else:
        td_b, exact_parity = ref_td, True
        rows += [("td_digest_ranks", True), ("kll_compactor_ranks", True)]
    td = TDigest.from_bytes(td_b)
    ok = True
    for q in (0.1, 0.5, 0.9):
        rank = li.filter(F.col("l_extendedprice") <= td.quantile(q)).count() / n
        ok = ok and abs(rank - q) <= 0.02
    rows = [("td_exact_ranks", bool(ok)), ("exact_mode_byte_parity", bool(exact_parity))] + rows
    return spark.createDataFrame(rows, "check_name string, ok boolean").orderBy("check_name")


def q_minhash_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 MinHash AGGREGATE BUFFER (MinHashAggregator, jvm/src — the
    xxhash64(h, lit(j)) slot chain replayed in-JVM): byte parity with the
    python engine checked inline, Jaccard of two real sets vs the exact
    Jaccard as the SQL-checkable output (same oracle as
    minhash_jaccard_flags).  Runs the python engine where the jar can't
    load (byte-identical signatures either way)."""
    from hllspark import sketches
    from hllspark.sketches import MinHash

    li = _read(spark, sf_dir, "lineitem")
    la = li.filter(F.col("l_returnflag") == "A")
    lr = li.filter(F.col("l_returnflag") == "R")

    def build(df, engine="auto"):
        return bytes(sketches.build(df, "l_partkey", "minhash", engine=engine, k=256).first()["sketch"])

    ab = build(la)
    parity = ab == build(la, engine="python")
    a = MinHash.from_bytes(ab)
    r = MinHash.from_bytes(build(lr))
    sa = la.select("l_partkey").distinct()
    sr = lr.select("l_partkey").distinct()
    inter = sa.intersect(sr).count()
    union = sa.union(sr).distinct().count()
    exact_j = inter / union
    sigma = (exact_j * (1 - exact_j) / 256) ** 0.5
    return spark.createDataFrame(
        [(int(inter), int(union), bool(abs(a.jaccard(r) - exact_j) <= 4 * sigma + 1e-9), bool(parity))],
        "exact_inter long, exact_union long, within_bound boolean, byte_parity boolean",
    )


def q_reagg_stored_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 JVM blob-merge aggregate buffer (HllMergeAggregator): the
    reference's sum(counter) re-aggregation over a STORED sketch column,
    decoded and register-merged entirely in the JVM — must be
    byte-identical to the python merge path (checked inline over
    xxhash-kind sketches, exercising the v2 hash_kind blob) and land the
    merged estimate inside the envelope.  Without the jar only the python
    merge runs."""
    from hllspark import agg, jvm_udaf
    from hllspark.functions import hll_estimate

    o = _read(spark, sf_dir, "orders")
    per_group = agg.sketch(o, "o_custkey", by=["o_orderpriority"])
    # engine pinned: merge_partials(engine="auto") routes through the udaf
    # itself now — the parity check needs the INDEPENDENT pandas merge path
    python_merged = agg.merge_partials(per_group.select("sketch"), engine="python")
    p_bytes = bytes(python_merged.first()["sketch"])
    udaf_matches = True
    if jvm_udaf.available(spark):
        u_bytes = bytes(jvm_udaf.hll_merge_udaf(per_group.select("sketch"), "sketch").first()["sketch"])
        udaf_matches = u_bytes == p_bytes
    est = python_merged.select(hll_estimate("sketch").alias("est"))
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_cnt"))
    j = est.crossJoin(exact)
    return j.select(
        "exact_cnt",
        (F.abs(F.col("est") - F.col("exact_cnt")) <= F.lit(MARGIN * BOUND_B14) * F.col("exact_cnt")).alias(
            "within_bound"
        ),
        F.lit(udaf_matches).alias("udaf_matches_python"),
    )


def q_rollup_read_udfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 per-row READ path over a stored sketch-rollup table
    (SketchReadUdfs + HllSketchEstimateUdf, jvm/src): one rollup row per
    l_returnflag carries count-min / t-digest / HLL sketches, then every
    check runs against the stored blobs entirely in the JVM — frequency
    point-queries for suppkeys 1..3 (inside the count-min 3ε envelope over
    the exact counts), the distinct-orderkey estimate (inside the b=14
    envelope), and the p50 extendedprice (exact rank within 2%).  The
    functions.* readers run their pandas twins without the jar, and the
    count-min probe falls back to functions.cm_query — identical results
    by the bit-parity contract (tests/test_jvm_read_udfs.py)."""
    from hllspark import agg, sketches
    from hllspark import functions as hfn
    from hllspark import jvm_udaf as ju

    li = _read(spark, sf_dir, "lineitem")
    use_jvm = ju.available(spark)
    cm = sketches.build(li, "l_suppkey", "countmin", ["l_returnflag"], width=4096, depth=5)
    td = sketches.build(li, "l_extendedprice", "tdigest", ["l_returnflag"])
    hl = agg.sketch(li, "l_orderkey", by=["l_returnflag"])
    rollup = (
        cm.select("l_returnflag", F.col("sketch").alias("cm"))
        .join(td.select("l_returnflag", F.col("sketch").alias("td")), "l_returnflag")
        .join(hl.select("l_returnflag", F.col("sketch").alias("hll")), "l_returnflag")
    )
    stats = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"), F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    probes = (
        li.where(F.col("l_suppkey") <= 3)
        .groupBy("l_returnflag", "l_suppkey")
        .agg(F.count("*").alias("exact_freq"))
    )
    j = rollup.join(probes, "l_returnflag").join(stats, "l_returnflag")
    if use_jvm:
        freq = ju.cm_query_col(spark, j, "cm", "l_suppkey")
    else:
        freq = hfn.cm_query(F.col("cm"), F.col("l_suppkey"))
    est = hfn.hll_estimate(F.col("hll"))
    p50 = hfn.tdigest_quantile(F.col("td"), 0.5)
    eps3 = 3.0 * math.e / 4096.0  # 3× count-min ε, scaled by group rows below
    per_probe = j.select(
        "l_returnflag", "exact_freq", "exact_distinct", "n_rows",
        freq.alias("freq"), est.alias("est"), p50.alias("p50"),
    )
    checked = per_probe.groupBy("l_returnflag").agg(
        F.first("exact_distinct").alias("exact_distinct_orderkey"),
        F.bool_and(
            (F.col("freq") >= F.col("exact_freq"))
            & (F.col("freq") <= F.col("exact_freq") + F.lit(eps3) * F.col("n_rows"))
        ).alias("freq_ok"),
        F.bool_and(
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= F.lit(MARGIN * BOUND_B14) * F.col("exact_distinct")
        ).alias("distinct_ok"),
        F.first("p50").alias("p50"),
    )
    rank = (
        li.join(F.broadcast(checked.select("l_returnflag", "p50")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg((F.sum(F.when(F.col("l_extendedprice") <= F.col("p50"), 1).otherwise(0)) / F.count("*")).alias("r"))
    )
    return (
        checked.join(rank, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_distinct_orderkey",
            "freq_ok",
            "distinct_ok",
            (F.abs(F.col("r") - F.lit(0.5)) <= F.lit(0.02)).alias("p50_rank_ok"),
        )
        .orderBy("l_returnflag")
    )


def q_setops_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 pairwise set-operation READ path over stored counters
    (HllSetOpUdfs, jvm/src): the custkey sets of URGENT vs HIGH orders as
    two stored sketches, then union / intersection / compliment /
    symmetric-diff estimates computed entirely in the JVM
    (reference postgres.sql:131-160, hyperloglog_counter.c:1051-1193) and
    checked against EXACT inclusion–exclusion counts — each estimate's
    envelope is the b=14 bound scaled by the set sizes that contribute
    error terms to it.  The functions.* set-op readers run their pandas
    twins without the jar — identical by the parity contract
    (tests/test_jvm_read_udfs.py)."""
    from hllspark import agg
    from hllspark import functions as hfn

    orders = _read(spark, sf_dir, "orders")
    seg = orders.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    sk = agg.sketch(seg, "o_custkey", by=["o_orderpriority"])
    pair = (
        sk.where(F.col("o_orderpriority") == "1-URGENT").select(F.col("sketch").alias("ca"))
        .crossJoin(sk.where(F.col("o_orderpriority") == "2-HIGH").select(F.col("sketch").alias("cb")))
    )
    u = hfn.hll_union_estimate(F.col("ca"), F.col("cb"))
    i = hfn.hll_intersection(F.col("ca"), F.col("cb"))
    c = hfn.hll_compliment(F.col("ca"), F.col("cb"))
    s = hfn.hll_symmetric_diff(F.col("ca"), F.col("cb"))
    est = pair.select(u.alias("u"), i.alias("i"), c.alias("c"), s.alias("s"))
    exact = seg.agg(
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "2-HIGH", F.col("o_custkey"))
        ).alias("exact_b"),
        F.countDistinct("o_custkey").alias("exact_union"),
    )
    bound = F.lit(MARGIN * BOUND_B14)
    ea, eb, eu = F.col("exact_a"), F.col("exact_b"), F.col("exact_union")
    ei = ea + eb - eu  # exact |A∩B| by inclusion–exclusion on exact counts
    return est.crossJoin(exact).select(
        ea.alias("exact_a"),
        eb.alias("exact_b"),
        eu.alias("exact_union"),
        ei.alias("exact_inter"),
        (F.abs(F.col("u") - eu) <= bound * eu).alias("union_ok"),
        (F.abs(F.col("i") - ei) <= bound * (ea + eb + eu)).alias("inter_ok"),
        (F.abs(F.col("c") - (eu - eb)) <= bound * (eu + eb)).alias("comp_ok"),
        (F.abs(F.col("s") - (F.lit(2) * eu - ea - eb)) <= bound * (F.lit(2) * eu + ea + eb)).alias("sym_ok"),
    )


def q_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (KMV) sketch set operations — the seventh sibling
    (hllspark/sketches/theta.py), added BEYOND the reference because its
    inclusion–exclusion set ops carry union-scale error while theta
    intersects retained samples directly (error scales with the RESULT).
    Same input shape as `setops_jvm` (URGENT vs HIGH custkey sets) so the
    two approaches are directly comparable; theta's tighter bounds are the
    point — at sf0.01 the sets are below k=4096, so the sketches are in
    EXACT mode and every estimate equals the exact count, while at larger
    sf the 8% envelopes still hold (~5σ at k=4096).  Built through
    sketches.build's two-phase python engine (bounded per-partition state,
    deterministic canonical form — tests/test_theta.py)."""
    from hllspark import functions as hfn
    from hllspark import sketches

    orders = _read(spark, sf_dir, "orders")
    seg = orders.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    sk = sketches.build(seg, "o_custkey", "theta", by=["o_orderpriority"], k=4096)
    pair = (
        sk.where(F.col("o_orderpriority") == "1-URGENT").select(F.col("sketch").alias("ca"))
        .crossJoin(sk.where(F.col("o_orderpriority") == "2-HIGH").select(F.col("sketch").alias("cb")))
    )
    est = pair.select(
        hfn.theta_estimate(F.col("ca")).alias("ta"),
        hfn.theta_estimate(F.col("cb")).alias("tb"),
        hfn.theta_union_estimate(F.col("ca"), F.col("cb")).alias("tu"),
        hfn.theta_intersection(F.col("ca"), F.col("cb")).alias("ti"),
        hfn.theta_a_not_b(F.col("ca"), F.col("cb")).alias("td"),
        hfn.theta_jaccard(F.col("ca"), F.col("cb")).alias("tj"),
    )
    exact = seg.agg(
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "2-HIGH", F.col("o_custkey"))
        ).alias("exact_b"),
        F.countDistinct("o_custkey").alias("exact_union"),
    )
    ea, eb, eu = F.col("exact_a"), F.col("exact_b"), F.col("exact_union")
    ei = ea + eb - eu
    m = F.lit(0.08)
    return est.crossJoin(exact).select(
        ea.alias("exact_a"),
        eb.alias("exact_b"),
        eu.alias("exact_union"),
        ei.alias("exact_inter"),
        (F.abs(F.col("ta") - ea) <= m * ea).alias("est_a_ok"),
        (F.abs(F.col("tb") - eb) <= m * eb).alias("est_b_ok"),
        (F.abs(F.col("tu") - eu) <= m * eu).alias("union_ok"),
        (F.abs(F.col("ti") - ei) <= m * ei).alias("inter_ok"),
        (F.abs(F.col("td") - (ea - ei)) <= m * ea).alias("anb_ok"),
        (F.abs(F.col("tj") - ei.cast("double") / eu) <= F.lit(0.05)).alias("jaccard_ok"),
    )


def q_corpus_shard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup.shard_overlap end-to-end: pairwise distinct-value overlap
    between corpus shards via per-shard theta sketches (one scan + an S×S
    sketch cross-join).  Shards are two shifted range-assignments of
    doc_id — every document belongs to two shards, adjacent shards share
    half an assignment window — so the overlap structure is fully
    derivable: the DuckDB oracle recomputes every pairwise intersection
    and union EXACTLY from the same arithmetic (independent oracle, no
    pinned literals).  At sf0.01 every shard is far below k=8192, so the
    sketches are in exact mode and the estimates round to the exact
    counts deterministically."""
    from hllspark.pipeline import dedup

    docs = _read(spark, sf_dir, "documents")
    a = docs.select(F.floor(F.col("doc_id") / 200).alias("shard"), "doc_id")
    b = docs.select(F.floor((F.col("doc_id") + 100) / 200).alias("shard"), "doc_id")
    assign = a.unionByName(b)
    ov = dedup.shard_overlap(assign, "shard", "doc_id", k=8192)
    return ov.select(
        "shard_a",
        "shard_b",
        F.round("inter_est").cast("long").alias("inter_cnt"),
        F.round("union_est").cast("long").alias("union_cnt"),
    ).orderBy("shard_a", "shard_b")


def q_sibling_merge_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 stored-blob merge for the SIBLING sketches
    (*BlobMergeAggregator classes via sketches.merge_stored): per-event-type
    count-min/Bloom/MinHash rollups re-merged globally in-JVM must be
    byte-identical to the pandas merge (exact merges), and a stored t-digest
    rollup must merge to rank-accurate quantiles.  Falls back to the pandas
    merge without the jar (parity booleans then compare python to python,
    still a valid statement of the merge contract)."""
    from hllspark import sketches
    from hllspark.sketches import TDigest

    e = _read(spark, sf_dir, "events")
    li = _read(spark, sf_dir, "lineitem")
    checks = []
    for kind, params in (("countmin", {"width": 512, "depth": 4}), ("bloom", {"m_bits": 1 << 14, "k": 5}), ("minhash", {"k": 64})):
        stored = sketches.build(e, "user_id", kind, by=["event_type"], **params)
        u = bytes(sketches.merge_stored(stored.select("sketch"), kind).first()["sketch"])
        p = bytes(sketches.merge_stored(stored.select("sketch"), kind, engine="python").first()["sketch"])
        checks.append((f"{kind}_merge_parity", bool(u == p)))
    td_stored = sketches.build(li, "l_extendedprice", "tdigest", by=["l_returnflag"])
    td = TDigest.from_bytes(bytes(sketches.merge_stored(td_stored.select("sketch"), "tdigest").first()["sketch"]))
    n = li.count()
    ok = True
    for q in (0.1, 0.5, 0.9):
        rank = li.filter(F.col("l_extendedprice") <= td.quantile(q)).count() / n
        ok = ok and abs(rank - q) <= 0.02
    checks.append(("tdigest_merge_ranks", bool(ok)))
    return spark.createDataFrame(checks, "check_name string, ok boolean").orderBy("check_name")


def q_hll_info_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-arg hyperloglog_info(): library defaults dump
    (hyperloglog_counter.c:994-1001)."""
    from hllspark.functions import hll_info_defaults

    d = hll_info_defaults()
    return spark.createDataFrame(
        [
            (
                int(d["struct_version"]),
                float(d["default_error_rate"]),
                float(d["default_ndistinct"]),
                int(d["default_index_bits"]),
                int(d["default_binbits"]),
            )
        ],
        "struct_version int, default_error_rate double, default_ndistinct double, "
        "default_index_bits int, default_binbits int",
    )


def q_estimate_compare_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: dedicated estimate-comparison operators > < >= <=
    (sql/postgres.sql:178-192,297-330; greenplum.sql:226-285 NUMERIC
    overloads) — all three operand shapes (counter↔counter, counter↔number,
    number↔counter).  The compared cardinalities differ 10×, far outside the
    HLL error bound, so every boolean is stable and the DuckDB oracle can
    derive the same truth values from exact counts."""
    from hllspark.functions import register_sql

    register_sql(spark)
    _read(spark, sf_dir, "lineitem").createOrReplaceTempView("li_cmp")
    return spark.sql(
        """
        WITH s AS (
          SELECT hll_sketch_agg(CASE WHEN l_orderkey % 4 != 0 THEN l_orderkey END) AS big,
                 hll_sketch_agg(CASE WHEN l_orderkey % 40 = 0 THEN l_orderkey END) AS small
          FROM li_cmp
        )
        SELECT hll_gt(big, small) AS gt_cc, hll_lt(big, small) AS lt_cc,
               hll_ge(big, big)  AS ge_self, hll_le(big, big) AS le_self,
               hll_gt(big, 1.0)  AS gt_cn, hll_lt(1.0, big)  AS lt_nc
        FROM s
        """
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: grouped approximate distinct on sf0.001 lineitem."""
    return q_distinct_custkey_by_priority(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "distinct_orderkey_global": q_distinct_orderkey_global,
        "distinct_custkey_by_priority": q_distinct_custkey_by_priority,
        "cube_distinct_rollups": q_cube_distinct_rollups,
        "cube_from_stored": q_cube_from_stored,
        "stratified_sample_documents": q_stratified_sample_documents,
        "distinct_users_by_event_type": q_distinct_users_by_event_type,
        "distinct_partsupp_pairs": q_distinct_partsupp_pairs,
        "reagg_stored_sketches": q_reagg_stored_sketches,
        "distinct_pages_by_lang": q_distinct_pages_by_lang,
        "extract_text_pages": q_extract_text_pages,
        "golden_series": q_golden_series,
        "golden_setops": q_golden_setops,
        "golden_grouped_sum": q_golden_grouped_sum,
        "countmin_event_freq": q_countmin_event_freq,
        "tdigest_price_quantiles": q_tdigest_price_quantiles,
        "kll_quantity_quantiles": q_kll_quantity_quantiles,
        "quantiles_jvm_builders": q_quantiles_jvm_builders,
        "bloom_orderkey_membership": q_bloom_orderkey_membership,
        "minhash_jaccard_flags": q_minhash_jaccard_flags,
        "token_count_documents": q_token_count_documents,
        "quality_documents": q_quality_documents,
        "exact_dedup_documents": q_exact_dedup_documents,
        "minhash_near_dup_pairs": q_minhash_near_dup_pairs,
        "jaccard_near_dup_pairs": q_jaccard_near_dup_pairs,
        "simhash_near_dup_pairs": q_simhash_near_dup_pairs,
        "ann_topk_cosine": q_ann_topk_cosine,
        "lang_id_samples": q_lang_id_samples,
        "fingerprint_documents": q_fingerprint_documents,
        "streaming_running_distinct": q_streaming_running_distinct,
        "embedding_cosine_pairs": q_embedding_cosine_pairs,
        "precision_sweep": q_precision_sweep,
        "compression_sizes": q_compression_sizes,
        "reference_wire_roundtrip": q_reference_wire_roundtrip,
        "null_group_semantics": q_null_group_semantics,
        "multimodal_image_features": q_multimodal_image_features,
        "distinct_custkey_jvm_udaf": q_distinct_custkey_jvm_udaf,
        "exhaustive_bucket_pairs": q_exhaustive_bucket_pairs,
        "countmin_bloom_udaf": q_countmin_bloom_udaf,
        "hll_info_defaults": q_hll_info_defaults,
        "quantiles_udaf": q_quantiles_udaf,
        "minhash_udaf": q_minhash_udaf,
        "reagg_stored_udaf": q_reagg_stored_udaf,
        "rollup_read_udfs": q_rollup_read_udfs,
        "setops_jvm": q_setops_jvm,
        "theta_setops": q_theta_setops,
        "corpus_shard_overlap": q_corpus_shard_overlap,
        "sibling_merge_udaf": q_sibling_merge_udaf,
        "estimate_compare_ops": q_estimate_compare_ops,
    }


def oracle_sql() -> dict[str, str]:
    # the pages oracle reads generated parquet — make sure it exists even if
    # the oracle happens to run before the corresponding Spark query
    from hllspark.pipeline.pages import ensure_small

    ensure_small(Path(__file__).resolve().parent)
    pages_glob = str(Path(__file__).resolve().parent / "data" / "pages_small" / "*.parquet")
    return {
        "distinct_orderkey_global": (
            "SELECT count(DISTINCT l_orderkey) AS exact_cnt, TRUE AS within_bound FROM lineitem"
        ),
        "distinct_custkey_by_priority": (
            "SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_cnt, TRUE AS within_bound "
            "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        "distinct_users_by_event_type": (
            "SELECT event_type, count(DISTINCT user_id) AS exact_cnt, TRUE AS within_bound "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        # independent CUBE: DuckDB re-derives every grouping-set cell's exact
        # count; GROUPING() rebuilds Spark's grouping_id (MSB = first dim)
        "cube_distinct_rollups": (
            "SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END AS p, "
            "CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS s, "
            "CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS grouping_id, "
            "count(DISTINCT o_custkey) AS exact_cnt, TRUE AS within_bound "
            "FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus) "
            "ORDER BY grouping_id, p, s"
        ),
        "cube_from_stored": (
            "SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END AS p, "
            "CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS s, "
            "CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS grouping_id, "
            "count(DISTINCT o_custkey) AS exact_cnt, TRUE AS within_bound, TRUE AS matches_direct "
            "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus) "
            "ORDER BY grouping_id, p, s"
        ),
        "stratified_sample_documents": (
            "SELECT lang, doc_id, TRUE AS fold_matches_window FROM ("
            "SELECT lang, doc_id, row_number() OVER ("
            "PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id) AS rn "
            "FROM documents) WHERE rn <= 10 ORDER BY lang, doc_id"
        ),
        "distinct_partsupp_pairs": (
            "SELECT count(DISTINCT concat(l_partkey, '|', l_suppkey)) AS exact_cnt, TRUE AS within_bound "
            "FROM lineitem"
        ),
        "reagg_stored_sketches": (
            "SELECT count(DISTINCT o_custkey) AS exact_cnt, TRUE AS within_bound, "
            "TRUE AS merge_matches_direct FROM orders"
        ),
        "distinct_pages_by_lang": (
            f"SELECT lang, count(DISTINCT url) AS exact_cnt, TRUE AS within_bound "
            f"FROM read_parquet('{pages_glob}') GROUP BY lang ORDER BY lang"
        ),
        # independent re-derivation of the extraction in DuckDB: both engines
        # strip tag runs to newlines, trim, and compare to the stored text
        "extract_text_pages": (
            "SELECT count(*) AS n_rows, "
            "CAST(sum(CASE WHEN trim(regexp_replace(CAST(html AS VARCHAR), '(<[^>]*>)+', chr(10), 'g'), chr(10)) = text "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS n_byte_identical FROM read_parquet('{pages_glob}')"
        ),
        # goldens from the reference regression suite, ×10^6 rounded
        # (aggs.ref:32,38,44,50,56; set_ops.ref:57; aggs.ref:1534; aggs.ref:1500-1508)
        "golden_series": (
            "SELECT * FROM (VALUES "
            "('n=000001', 1000000), "
            "('n=000100', 100000149), "
            "('n=001020', 1020015503), "
            "('n=010000', 9998401035), "
            "('n=100000', 98643350682)"
            ") AS t(fixture, est_micro)"
        ),
        "golden_setops": (
            "SELECT fixture, CAST(est_micro AS BIGINT) AS est_micro FROM (VALUES "
            "('disjoint_10k_intersection', 190209961), "
            "('union_1k_2k', 2003673602)"
            ") AS t(fixture, est_micro)"
        ),
        "golden_grouped_sum": "SELECT CAST(39920 AS BIGINT) AS sum_est",
        "countmin_event_freq": (
            "SELECT event_type, count(*) AS exact_freq, TRUE AS within_bound "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "tdigest_price_quantiles": (
            "SELECT * FROM (VALUES ('q10', TRUE), ('q50', TRUE), ('q90', TRUE)) AS t(quantile, within_bound)"
        ),
        "kll_quantity_quantiles": (
            "SELECT * FROM (VALUES ('q25', TRUE), ('q50', TRUE), ('q75', TRUE)) AS t(quantile, within_bound)"
        ),
        "quantiles_jvm_builders": (
            "SELECT * FROM (VALUES ('td_q10', TRUE), ('td_q50', TRUE), ('td_q90', TRUE), "
            "('kll_A_q50', TRUE), ('kll_N_q50', TRUE), ('kll_R_q50', TRUE)) AS t(quantile, within_bound)"
        ),
        "bloom_orderkey_membership": "SELECT TRUE AS no_false_negatives, TRUE AS fp_rate_ok",
        "minhash_jaccard_flags": (
            "WITH a AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'), "
            "r AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R') "
            "SELECT (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM r)) AS exact_inter, "
            "(SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM r)) AS exact_union, "
            "TRUE AS within_bound"
        ),
        "token_count_documents": (
            "SELECT CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) "
            "AS total_tokens FROM documents"
        ),
        "quality_documents": (
            "SELECT count(*) AS n_docs, "
            "CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS chars_match, "
            "count(*) AS high_quality FROM documents"
        ),
        "exact_dedup_documents": "SELECT count(DISTINCT text) AS kept FROM documents",
        # deterministic under the fixed signature seeds (measured; the
        # documents fixture ships ~25 built-in J>=0.92 near-dup pairs)
        "minhash_near_dup_pairs": "SELECT CAST(24 AS BIGINT) AS n_pairs",
        # fully independent derivation: enumerate every char-12-gram,
        # self-join, count pairs at true Jaccard >= 0.9 (ASCII fixture, so
        # character grams == the kernel's byte grams)
        "jaccard_near_dup_pairs": (
            "WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 12), "
            "e AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - 11)) AS i FROM d), "
            "g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 12) AS gm FROM e), "
            "s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id), "
            "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c "
            "FROM g x JOIN g y ON x.gm = y.gm AND x.doc_id < y.doc_id GROUP BY 1, 2) "
            "SELECT count(*) AS n_pairs FROM inter "
            "JOIN s sa ON sa.doc_id = a JOIN s sb ON sb.doc_id = b "
            "WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9"
        ),
        "simhash_near_dup_pairs": "SELECT CAST(20 AS BIGINT) AS n_pairs",
        "ann_topk_cosine": (
            "WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0) "
            "SELECT vec_id FROM embeddings "
            "ORDER BY list_cosine_similarity(embedding, (SELECT e FROM q)) DESC, vec_id LIMIT 10"
        ),
        "lang_id_samples": (
            "SELECT * FROM (VALUES (1, 'en'), (2, 'es'), (3, 'de'), (4, 'fr'), "
            "(5, 'ru'), (6, 'zh'), (7, 'ja')) AS t(id, pred) ORDER BY id"
        ),
        # literals from the scalar reference implementation of
        # rolling_fingerprints over the same fixture (the distributed
        # operator is property-tested byte-identical to it)
        "fingerprint_documents": (
            "SELECT CAST(500 AS BIGINT) AS n_docs, CAST(1948 AS BIGINT) AS fp_total, "
            "CAST(211991036 AS BIGINT) AS min_fp_modsum"
        ),
        "streaming_running_distinct": (
            "SELECT event_type, count(DISTINCT user_id) AS exact_cnt, TRUE AS within_bound "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "embedding_cosine_pairs": (
            "SELECT a.vec_id AS a, b.vec_id AS b FROM embeddings a JOIN embeddings b "
            "ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.5 "
            "ORDER BY a, b"
        ),
        "precision_sweep": (
            "SELECT b, (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_cnt, "
            "TRUE AS within_bound FROM (VALUES (10), (12), (14), (16)) AS t(b) ORDER BY b"
        ),
        # reference compression.ref sizes minus its 16-byte header plus our
        # 8-byte header: sparse group-varint payloads are byte-identical in
        # size (20→12, 330→322, 1450→1442, 2643→2635, 2689→2681); n=1021 is
        # dense zlib-over-raw-registers (reference PGLZ analogue: 2133 there,
        # 1569 here — deterministic for zlib level 6)
        "compression_sizes": (
            "SELECT * FROM (VALUES "
            "('n=000001', CAST(12 AS BIGINT)), "
            "('n=000100', 322), "
            "('n=000500', 1442), "
            "('n=001000', 2635), "
            "('n=001020', 2681), "
            "('n=001021', 1569)"
            ") AS t(fixture, nbytes)"
        ),
        # the reference's OWN regression outputs (compression.ref:
        # length(hyperloglog_accum(generate_series)) of the stored compressed
        # counter) — not invented literals; sparse rows pin group-varint
        # byte-size parity, dense rows pin the PGLZ encoder's exact output
        # size through real register payloads
        "reference_wire_roundtrip": (
            "SELECT * FROM (VALUES "
            "('n=000001', CAST(20 AS BIGINT), TRUE), "
            "('n=000100', 330, TRUE), "
            "('n=000500', 1450, TRUE), "
            "('n=001000', 2643, TRUE), "
            "('n=001020', 2689, TRUE), "
            "('n=001021', 2133, TRUE), "
            "('n=010000', 6355, TRUE)"
            ") AS t(fixture, ref_varsize, roundtrip_identical)"
        ),
        "null_group_semantics": (
            "WITH t AS (SELECT o_orderpriority, CASE WHEN o_orderpriority = '1-URGENT' "
            "THEN NULL ELSE o_custkey END AS v FROM orders) "
            "SELECT o_orderpriority, count(DISTINCT v) AS exact_cnt, "
            "(count(v) = 0) AS est_is_null, TRUE AS within_bound "
            "FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        # deterministic FakeCodec literals (numpy RandomState is platform-
        # stable; per-image micro-rounding before the sum makes the values
        # independent of partition/summation order)
        "multimodal_image_features": (
            "SELECT CAST(50 AS BIGINT) AS n_images, CAST(1600 AS BIGINT) AS width_sum, "
            "CAST(1200 AS BIGINT) AS height_sum, CAST(6400281252 AS BIGINT) AS mean_micro_sum, "
            "CAST(3695961838 AS BIGINT) AS std_micro_sum, CAST(38400 AS BIGINT) AS hist_total"
        ),
        # same exact counts as distinct_custkey_by_priority — the forced
        # jvm_udaf engine must agree with every other engine
        "distinct_custkey_jvm_udaf": (
            "SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_cnt, "
            "TRUE AS within_bound FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
        ),
        # closed-form C(1000,2) for the complete set; the connected literal
        # 49831 is deterministic in pmod(xxhash64(id), 10) sub-bucketing
        # (frozen like the 24/20 near-dup literals — changes only if the
        # salt-split hash or max_bucket changes)
        "exhaustive_bucket_pairs": (
            "SELECT CAST(499500 AS BIGINT) AS n_exhaustive, "
            "CAST(49831 AS BIGINT) AS n_connected, CAST(49831 AS BIGINT) AS n_budget_fallback"
        ),
        # same exact frequencies as countmin_event_freq — the aggregate-buffer
        # builders must agree with the python engine and the bounds
        "countmin_bloom_udaf": (
            "SELECT event_type, count(*) AS exact_freq, TRUE AS within_bound "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        # hyperloglog_counter.c:994-1001 defaults (STRUCT_VERSION here is the
        # library's own v2 — sparse group-varint + hash-kind flags)
        "hll_info_defaults": (
            "SELECT CAST(2 AS INTEGER) AS struct_version, CAST(0.008125 AS DOUBLE) AS default_error_rate, "
            "CAST(9223372036854775808.0 AS DOUBLE) AS default_ndistinct, CAST(14 AS INTEGER) AS default_index_bits, "
            "CAST(6 AS INTEGER) AS default_binbits"
        ),
        "quantiles_udaf": (
            "SELECT * FROM (VALUES ('exact_mode_byte_parity', TRUE), ('kll_compactor_ranks', TRUE), "
            "('td_digest_ranks', TRUE), ('td_exact_ranks', TRUE)) AS t(check_name, ok) ORDER BY check_name"
        ),
        "minhash_udaf": (
            "WITH a AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'), "
            "r AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R') "
            "SELECT (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM r)) AS exact_inter, "
            "(SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM r)) AS exact_union, "
            "TRUE AS within_bound, TRUE AS byte_parity"
        ),
        "reagg_stored_udaf": (
            "SELECT count(DISTINCT o_custkey) AS exact_cnt, TRUE AS within_bound, "
            "TRUE AS udaf_matches_python FROM orders"
        ),
        "rollup_read_udfs": (
            "SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct_orderkey, "
            "TRUE AS freq_ok, TRUE AS distinct_ok, TRUE AS p50_rank_ok "
            "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
        ),
        # exact set cardinalities independently; the *_ok booleans assert the
        # in-JVM inclusion–exclusion estimates sit inside the b=14 envelopes
        "setops_jvm": (
            "WITH e AS (SELECT "
            "count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END) AS exact_a, "
            "count(DISTINCT CASE WHEN o_orderpriority = '2-HIGH' THEN o_custkey END) AS exact_b, "
            "count(DISTINCT o_custkey) AS exact_union "
            "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) "
            "SELECT exact_a, exact_b, exact_union, "
            "exact_a + exact_b - exact_union AS exact_inter, "
            "TRUE AS union_ok, TRUE AS inter_ok, TRUE AS comp_ok, TRUE AS sym_ok FROM e"
        ),
        # same exact counts as setops_jvm; theta's anb truth is ea - ei and
        # jaccard truth ei/eu — all TRUE-bounded (exact-mode at sf0.01)
        "theta_setops": (
            "WITH e AS (SELECT "
            "count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END) AS exact_a, "
            "count(DISTINCT CASE WHEN o_orderpriority = '2-HIGH' THEN o_custkey END) AS exact_b, "
            "count(DISTINCT o_custkey) AS exact_union "
            "FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) "
            "SELECT exact_a, exact_b, exact_union, "
            "exact_a + exact_b - exact_union AS exact_inter, "
            "TRUE AS est_a_ok, TRUE AS est_b_ok, TRUE AS union_ok, "
            "TRUE AS inter_ok, TRUE AS anb_ok, TRUE AS jaccard_ok FROM e"
        ),
        # fully independent: the oracle re-derives every pairwise overlap
        # from the same shifted range-sharding arithmetic — exact counts,
        # which the exact-mode theta estimates must round to
        "corpus_shard_overlap": (
            "WITH d AS ("
            "SELECT CAST(floor(doc_id / 200) AS BIGINT) AS shard, doc_id FROM documents "
            "UNION "
            "SELECT CAST(floor((doc_id + 100) / 200) AS BIGINT) AS shard, doc_id FROM documents), "
            "shards AS (SELECT DISTINCT shard FROM d), "
            "pairs AS (SELECT a.shard AS sa, b.shard AS sb FROM shards a, shards b WHERE a.shard < b.shard), "
            "inter AS (SELECT x.shard AS sa, y.shard AS sb, count(*) AS c "
            "FROM d x JOIN d y ON x.doc_id = y.doc_id AND x.shard < y.shard GROUP BY 1, 2) "
            "SELECT p.sa AS shard_a, p.sb AS shard_b, "
            "CAST(COALESCE(i.c, 0) AS BIGINT) AS inter_cnt, "
            "(SELECT count(DISTINCT doc_id) FROM d WHERE shard IN (p.sa, p.sb)) AS union_cnt "
            "FROM pairs p LEFT JOIN inter i ON p.sa = i.sa AND p.sb = i.sb "
            "ORDER BY shard_a, shard_b"
        ),
        "sibling_merge_udaf": (
            "SELECT * FROM (VALUES ('bloom_merge_parity', TRUE), ('countmin_merge_parity', TRUE), "
            "('minhash_merge_parity', TRUE), ('tdigest_merge_ranks', TRUE)) AS t(check_name, ok) "
            "ORDER BY check_name"
        ),
        # the same truth values from EXACT counts: the compared cardinalities
        # differ 10× (vs the 0.81% HLL bound), so estimate comparisons and
        # exact comparisons must agree
        "estimate_compare_ops": (
            "WITH c AS (SELECT "
            "count(DISTINCT CASE WHEN l_orderkey % 4 != 0 THEN l_orderkey END) AS big, "
            "count(DISTINCT CASE WHEN l_orderkey % 40 = 0 THEN l_orderkey END) AS small "
            "FROM lineitem) "
            "SELECT big > small AS gt_cc, big < small AS lt_cc, "
            "TRUE AS ge_self, TRUE AS le_self, "
            "big > 1.0 AS gt_cn, 1.0 < big AS lt_nc FROM c"
        ),
    }
