"""End-to-end Spark tests for the two-phase sketch pipeline and the SQL UDF
surface, asserted against exact countDistinct (the reference's own test
strategy: hll estimate vs exact at varying cardinalities, test/sql/aggs.sql)."""

import math

import pytest
from pyspark.sql import functions as F

from hllspark import agg
from hllspark.functions import register_sql

BOUND_B14 = 1.04 / math.sqrt(2**14)  # 0.8125% design error


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_sql(spark)


def test_global_distinct_matches_exact(spark, sf01_dir):
    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    exact = li.select(F.countDistinct("l_orderkey")).first()[0]
    est = agg.distinct(li, "l_orderkey").first()["est"]
    assert abs(est - exact) / exact < 3 * BOUND_B14


def test_grouped_distinct_matches_exact(spark, sf01_dir):
    orders = spark.read.parquet(f"{sf01_dir}/orders.parquet")
    exact = {
        r["o_orderpriority"]: r["d"]
        for r in orders.groupBy("o_orderpriority").agg(F.countDistinct("o_custkey").alias("d")).collect()
    }
    got = agg.distinct(orders, "o_custkey", by=["o_orderpriority"]).collect()
    assert len(got) == len(exact)
    for r in got:
        e = exact[r["o_orderpriority"]]
        assert abs(r["est"] - e) / e < 3 * BOUND_B14


def test_two_phase_equals_grouped_agg_udf(spark, sf001_dir):
    """Two-phase pipeline and the GROUPED_AGG convenience path must produce
    byte-identical final registers (merge determinism across topologies)."""
    orders = spark.read.parquet(f"{sf001_dir}/orders.parquet")
    # python engine + murmur hashing to match the GROUPED_AGG UDAF's domain
    two_phase = {
        r["o_orderpriority"]: bytes(r["sketch"])
        for r in agg.sketch(orders, "o_custkey", by=["o_orderpriority"], engine="python", jvm_prehash=False).collect()
    }
    via_udaf = {
        r["o_orderpriority"]: bytes(r["sk"])
        for r in orders.groupBy("o_orderpriority")
        .agg(F.expr("hll_sketch_agg(o_custkey)").alias("sk"))
        .collect()
    }
    assert two_phase == via_udaf


def test_merge_rounds_invariance(spark, sf001_dir):
    """Single-round and bucketed two-round merges give identical sketches."""
    li = spark.read.parquet(f"{sf001_dir}/lineitem.parquet").repartition(16)
    p = agg.build_partials(li, "l_partkey", by=["l_returnflag"], lineage=False)
    one = {r["l_returnflag"]: bytes(r["sketch"]) for r in agg.merge_partials(p, ["l_returnflag"], merge_rounds=1).collect()}
    two = {r["l_returnflag"]: bytes(r["sketch"]) for r in agg.merge_partials(p, ["l_returnflag"], merge_rounds=2).collect()}
    assert one == two


def test_partition_count_invariance(spark, sf001_dir):
    """Same input at different parallelism → byte-identical global sketch."""
    li = spark.read.parquet(f"{sf001_dir}/lineitem.parquet")
    a = bytes(agg.sketch(li.repartition(3), "l_orderkey").first()["sketch"])
    b = bytes(agg.sketch(li.repartition(13), "l_orderkey").first()["sketch"])
    assert a == b


def test_sql_surface_and_set_ops(spark, sf001_dir):
    spark.read.parquet(f"{sf001_dir}/orders.parquet").createOrReplaceTempView("orders_v")
    row = spark.sql(
        """
        WITH s AS (
          SELECT hll_sketch_agg(o_custkey) AS all_c,
                 hll_sketch_agg(CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS f_c
          FROM orders_v
        )
        SELECT hll_estimate(all_c) AS est_all,
               hll_estimate_bigint(f_c) AS est_f,
               hll_union_estimate(all_c, f_c) AS est_union,
               hll_intersection(all_c, f_c) AS est_inter,
               hll_compliment(all_c, f_c) AS est_comp,
               hll_equal(all_c, all_c) AS eq_self,
               hll_equal(all_c, f_c) AS eq_other,
               hll_length(all_c) AS len_all,
               hll_info(all_c) AS info
        FROM s
        """
    ).first()
    exact_all = spark.sql("SELECT count(DISTINCT o_custkey) FROM orders_v").first()[0]
    assert abs(row["est_all"] - exact_all) / exact_all < 3 * BOUND_B14
    # F-subset ⊆ all: union(all, f) ≈ all
    assert abs(row["est_union"] - row["est_all"]) / row["est_all"] < 1e-9
    # est_f is bigint-rounded; intersection of a subset with the whole = subset estimate
    assert round(row["est_inter"]) == row["est_f"]
    assert row["eq_self"] is True and row["eq_other"] is False
    assert "\"b\": 14" in row["info"]


def test_null_contract(spark):
    df = spark.createDataFrame([(1, None), (1, None), (2, "x")], "g int, v string")
    got = {r["g"]: r["est"] for r in agg.distinct(df, "v", by=["g"], bigint=True).collect()}
    # all-NULL group estimates 0 (hyperloglog_get_estimate_bigint coalesce, postgres.sql:169-171)
    assert got == {1: 0, 2: 1}


def test_lineage_emitted(spark, sf001_dir):
    li = spark.read.parquet(f"{sf001_dir}/lineitem.parquet").repartition(4)
    p = agg.build_partials(li, "l_orderkey", lineage=True)
    rows = p.collect()
    assert {c for c in p.columns} == {"sketch", "partition_id", "rows_seen", "nulls_skipped", "wall_ms"}
    assert sum(r["rows_seen"] for r in rows) == li.count()
    assert len({r["partition_id"] for r in rows}) == len(rows)


def test_hll_info_defaults_noargs():
    """Zero-arg hyperloglog_info(): library defaults dump
    (hyperloglog_counter.c:994-1001)."""
    from hllspark.core.hll import DEFAULT_ERROR, DEFAULT_NDISTINCT, STRUCT_VERSION
    from hllspark.functions import hll_info_defaults, resolve_params

    d = hll_info_defaults()
    assert d["struct_version"] == STRUCT_VERSION
    assert d["default_error_rate"] == DEFAULT_ERROR
    assert d["default_ndistinct"] == DEFAULT_NDISTINCT
    assert (d["default_index_bits"], d["default_binbits"]) == resolve_params()
    # the published bound the default b implies (1.0816/sqrt(2^14) ≈ 0.00845)
    # sits just ABOVE the requested default error — the reference's float32
    # params_from_error quirk picks the smallest b whose bound is within
    # tolerance, not strictly below (hyperloglog.c hll_create)
    assert abs(d["error_bound"] - d["default_error_rate"]) / d["default_error_rate"] < 0.08


def test_distinct_error_rate_form(spark, sf001_dir):
    """hyperloglog_distinct(col, error_rate[, ndistinct]) parameterization on
    the distinct() surface (postgres.sql:219-245): a coarser error rate uses
    fewer registers but stays within ITS OWN published bound."""
    import math

    from hllspark import agg

    li = spark.read.parquet(f"{sf001_dir}/lineitem.parquet")
    exact = li.select("l_orderkey").distinct().count()
    est_default = agg.distinct(li, "l_orderkey").first()["est"]
    est_coarse = agg.distinct(li, "l_orderkey", error_rate=0.05, ndistinct=2**20).first()["est"]
    assert abs(est_default - exact) / exact < 3 * 1.04 / math.sqrt(2**14)
    assert abs(est_coarse - exact) / exact < 3 * 0.05
    assert est_default != est_coarse  # genuinely different precision


def test_merge_partials_driver_equals_sequential_fold(spark):
    """One vectorized union over the collected blobs: the same bytes as the
    HLL.from_bytes + merge fold over sparse, group-varint, dense, packed and
    unpacked payloads with NULL partials, {} without partials, {(): None}
    when every partial is NULL, and HLL.merge's refusal of mismatches."""
    import numpy as np

    from hllspark.core.hll import HLL

    def mk(n, seed, b=14, binbits=6, hk=1):
        s = HLL.create(b=b, binbits=binbits, hash_kind=hk)
        s.add_hashes(np.random.default_rng(seed).integers(0, 2**63, size=n, dtype=np.uint64))
        return s

    def fold(blobs):
        acc = None
        for v in blobs:
            if v is not None:
                s = HLL.from_bytes(v)
                acc = s if acc is None else acc.merge(s)
        return acc

    def driver(blobs):
        rows = [(None if v is None else bytearray(v),) for v in blobs]
        return agg.merge_partials_driver(spark.createDataFrame(rows, "sketch binary"))

    cases = [
        [mk(50, 1).to_bytes(), None, mk(80, 2).to_bytes(compress=True)],  # sparse, stays sparse
        [mk(5000, 3).to_bytes(), mk(40, 4).to_bytes(), None],  # packed dense + sparse
        [mk(5000, 5).to_bytes(packed=False), mk(3000, 6).to_bytes(compress=True), mk(7, 7).to_bytes()],
        [mk(20, s, b=10, binbits=5, hk=0).to_bytes() for s in range(30)],  # non-default params
    ]
    for blobs in cases:
        got = driver(blobs)
        assert list(got) == [()] and got[()].to_bytes() == fold(blobs).to_bytes()
    assert driver([]) == {}
    assert driver([None, None]) == {(): None}
    for other, msg in [
        (mk(10, 8, b=12), "index size of estimators differs"),
        (mk(10, 8, binbits=5), "bin size of estimators differs"),
        (mk(10, 8, hk=0), "hash kind of estimators differs"),
    ]:
        blobs = [mk(10, 9).to_bytes(), other.to_bytes()]
        with pytest.raises(ValueError, match=msg):
            fold(blobs)
        with pytest.raises(ValueError, match=msg):
            driver(blobs)
