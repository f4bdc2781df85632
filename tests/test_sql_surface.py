"""SQL-registered surface for the sibling sketches + parameterized HLL:
the full sketch workflow expressed purely in spark.sql()."""

import math

import pytest
from pyspark.sql import functions as F

from hllspark.functions import make_sketch_agg, register_sql, resolve_params


@pytest.fixture(scope="module", autouse=True)
def _register(spark, sf01_dir):
    register_sql(spark)
    spark.read.parquet(f"{sf01_dir}/lineitem.parquet").createOrReplaceTempView("li_sql")
    spark.read.parquet(f"{sf01_dir}/events.parquet").createOrReplaceTempView("ev_sql")


def test_resolve_params_matches_reference_derivation():
    assert resolve_params() == (14, 6)
    assert resolve_params(error_rate=0.008125) == (14, 6)
    assert resolve_params(error_rate=0.05) == (9, 6)  # 1.0816/0.0025 = 432.6 → ceil(log2) = 9
    assert resolve_params(b=8, binbits=5) == (8, 5)


def test_error_rate_accuracy(spark):
    # coarser precision → looser but honored bound
    agg_udf = make_sketch_agg(error_rate=0.05)
    df = spark.range(1, 20001).select(F.col("id").alias("v"))
    blob = df.agg(agg_udf("v").alias("s")).first()["s"]
    from hllspark.core.hll import HLL

    h = HLL.from_bytes(bytes(blob))
    b = h.b
    est = h.estimate()
    assert abs(est - 20000) / 20000 < 3 * 1.04 / math.sqrt(2**b)


def test_sql_tdigest_workflow(spark):
    row = spark.sql(
        """
        WITH g AS (
          SELECT l_returnflag, tdigest_agg(l_extendedprice) AS td
          FROM li_sql GROUP BY l_returnflag
        )
        SELECT tdigest_quantile(tdigest_merge_agg(td), 0.5) AS med,
               tdigest_rank(tdigest_merge_agg(td), 50000.0) AS r50k
        FROM g
        """
    ).first()
    exact_med = spark.sql("SELECT percentile(l_extendedprice, 0.5) FROM li_sql").first()[0]
    assert abs(row["med"] - exact_med) / exact_med < 0.05
    exact_rank = float(
        spark.sql(
            "SELECT avg(CASE WHEN l_extendedprice <= 50000 THEN 1.0 ELSE 0.0 END) FROM li_sql"
        ).first()[0]
    )
    assert abs(row["r50k"] - exact_rank) < 0.02


def test_sql_countmin_and_bloom(spark):
    row = spark.sql(
        """
        WITH s AS (SELECT cm_sketch_agg(event_type) AS cm, bloom_sketch_agg(event_type) AS bf FROM ev_sql)
        SELECT cm_query(cm, 'click') AS clicks,
               bloom_contains(bf, 'click') AS has_click,
               bloom_contains(bf, 'nonexistent_event_xyz') AS has_fake
        FROM s
        """
    ).first()
    exact = spark.sql("SELECT count(*) FROM ev_sql WHERE event_type = 'click'").first()[0]
    assert exact <= row["clicks"] <= exact + 150  # 3εN at N≈10k, w=4096
    assert row["has_click"] is True
    assert row["has_fake"] is False


def test_typed_probes_match_build_canonicalization(spark):
    """Regression: probing an int64-built sketch with a long literal must hit
    the same hash domain as the build (anyelement semantics)."""
    row = spark.sql(
        """
        WITH s AS (SELECT cm_sketch_agg(l_partkey) cm, bloom_sketch_agg(l_suppkey) bf FROM li_sql)
        SELECT cm_query(cm, 77L) AS freq77,
               bloom_contains(bf, 5L) AS has_s5,
               bloom_contains(bf, 999999999L) AS has_fake,
               cm_query(cm, CAST(NULL AS LONG)) AS nullq
        FROM s
        """
    ).first()
    exact = spark.sql("SELECT count(*) FILTER (WHERE l_partkey = 77) FROM li_sql").first()[0]
    assert exact <= row["freq77"] <= exact + 150
    assert row["has_s5"] is True and row["has_fake"] is False and row["nullq"] is None


def test_sql_kll_and_minhash(spark):
    row = spark.sql(
        """
        WITH a AS (SELECT minhash_agg(l_partkey) AS mh FROM li_sql WHERE l_returnflag = 'A'),
             r AS (SELECT minhash_agg(l_partkey) AS mh FROM li_sql WHERE l_returnflag = 'R'),
             k AS (SELECT kll_agg(l_quantity) AS kq FROM li_sql)
        SELECT minhash_jaccard(a.mh, r.mh) AS j, kll_quantile(k.kq, 0.5) AS med
        FROM a, r, k
        """
    ).first()
    assert 0.0 <= row["j"] <= 1.0
    exact_med = spark.sql("SELECT percentile(l_quantity, 0.5) FROM li_sql").first()[0]
    assert abs(row["med"] - exact_med) <= 2


def test_estimate_comparison_operators(spark):
    """Round-5: dedicated > < >= <= operators (postgres.sql:178-192,297-330;
    greenplum.sql:226-285 NUMERIC overloads) — every result must equal the
    hll_estimate(...) composition, for all three operand shapes and NULL."""
    row = spark.sql(
        """
        WITH s AS (
          SELECT hll_sketch_agg(CASE WHEN l_orderkey % 4 != 0 THEN l_orderkey END) AS big,
                 hll_sketch_agg(CASE WHEN l_orderkey % 40 = 0 THEN l_orderkey END) AS small,
                 hll_sketch_agg(CAST(NULL AS BIGINT)) AS nul
          FROM li_sql
        )
        SELECT hll_gt(big, small) AS gt_cc, hll_lt(big, small) AS lt_cc,
               hll_ge(big, big)  AS ge_self, hll_le(big, big) AS le_self,
               hll_gt(big, 1.0)  AS gt_cn, hll_lt(1.0, big)  AS lt_nc,
               hll_ge(big, hll_estimate(big)) AS ge_cn_exact,
               hll_le(hll_estimate(big), big) AS le_nc_exact,
               hll_gt(nul, small) AS gt_null,
               hll_gt(big, CAST(NULL AS DOUBLE)) AS gt_null_num,
               (hll_estimate(big) > hll_estimate(small)) AS gt_composed
        FROM s
        """
    ).first()
    assert row["gt_cc"] is True and row["gt_cc"] == row["gt_composed"]
    assert row["lt_cc"] is False
    assert row["ge_self"] is True and row["le_self"] is True
    assert row["gt_cn"] is True and row["lt_nc"] is True
    assert row["ge_cn_exact"] is True and row["le_nc_exact"] is True
    assert row["gt_null"] is None  # NULL counter → NULL comparison (SQL semantics)
    # numeric NULL arrives in the pandas UDF as float64 NaN (Spark's
    # numeric-with-NULLs behavior) — must still compare as SQL NULL
    assert row["gt_null_num"] is None


def test_build_aggregates_all_null_group_is_null(spark):
    """Strict-aggregate NULL contract for every SQL build aggregate: a group
    whose values are all NULL yields SQL NULL (not an empty sketch), like
    hll_sketch_agg; a group with values yields a sketch."""
    aggs = ["hll_sketch_agg", "cm_sketch_agg", "bloom_sketch_agg", "tdigest_agg", "kll_agg", "minhash_agg", "theta_agg"]
    rows = spark.sql(
        f"""
        SELECT g, {", ".join(f"{a}(v) AS {a}" for a in aggs)}
        FROM (SELECT l_returnflag AS g, CASE WHEN l_returnflag = 'A' THEN l_partkey END AS v FROM li_sql)
        GROUP BY g
        """
    ).collect()
    assert len(rows) == 3
    for r in rows:
        for a in aggs:
            assert (r[a] is not None) == (r["g"] == "A"), (r["g"], a)
