"""JVM aggregate-buffer engine (engine="jvm_udaf"): byte parity with the
python engine, crafted-hash edge cases (sparse/dense boundary, rho-overflow
chain rows), NULL contract, and auto-routing."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hllspark import agg
from hllspark.core.hll import HASH_XXHASH_SPARK, HLL, sparse_capacity
from hllspark.sketches.kll import KLL
from hllspark.sketches.tdigest import TDigest

ju = pytest.importorskip("hllspark.jvm_udaf")


@pytest.fixture(scope="module")
def udaf_spark(spark):
    if not ju.available(spark):
        pytest.skip("hllspark-udaf.jar not loadable (no JDK?)")
    return spark


def _by_key(df, by, col="sketch"):
    return {tuple(r[c] for c in by): None if r[col] is None else bytes(r[col]) for r in df.collect()}


def _py(df, col, by=()):
    """python engine in the xxhash64 domain — the jar engine's byte reference."""
    return _by_key(agg.sketch(df, col, by=list(by), engine="python", jvm_prehash=True), list(by))


def _py_sibling(df, col, kind, by=(), **params):
    from hllspark import sketches

    return _by_key(sketches.build(df, col, kind, by=list(by), engine="python", **params), list(by))


def test_udaf_byte_parity_grouped_strings(udaf_spark, pages_small_dir):
    pages = udaf_spark.read.parquet(pages_small_dir)
    u = _by_key(ju.sketch_jvm_udaf(pages, "url", ["lang"]), ["lang"])
    assert u == _py(pages, "url", ["lang"])


def test_udaf_byte_parity_global_longs(udaf_spark, sf01_dir):
    li = udaf_spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    u = bytes(ju.sketch_jvm_udaf(li, "l_orderkey").first()["sketch"])
    assert u == _py(li, "l_orderkey")[()]


def test_udaf_null_groups_and_narrow_ints(udaf_spark):
    # int key column with a NULL key group and an all-NULL value group;
    # int values must canonicalize through the long hash domain
    rows = [(g, i % (7 * (g + 1))) for g in range(3) for i in range(300)]
    rows += [(None, 5), (None, 6), (9, None), (9, None)]
    df = udaf_spark.createDataFrame(rows, "g int, v int")
    u = _by_key(ju.sketch_jvm_udaf(df, "v", ["g"]), ["g"])
    assert u == _py(df, "v", ["g"])
    assert u[(9,)] is None  # all-NULL group → SQL NULL sketch
    assert u[(None,)] is not None  # NULL key is a real group


def test_udaf_zero_rows_global(udaf_spark):
    df = udaf_spark.range(10).select(F.col("id").alias("v")).filter("v < 0")
    assert ju.sketch_jvm_udaf(df, "v").first()["sketch"] is None
    r = ju.sketch_jvm_udaf(df, "v", finalize="estimate_bigint").first()
    assert r["est"] == 0  # NULL→0 (postgres.sql:169-171)


def test_udaf_estimates_match_distributed(udaf_spark, sf01_dir):
    orders = udaf_spark.read.parquet(f"{sf01_dir}/orders.parquet")
    u = {
        r["o_orderpriority"]: r["est"]
        for r in ju.sketch_jvm_udaf(orders, "o_custkey", ["o_orderpriority"], finalize="estimate").collect()
    }
    # the python engine's estimate of the same sketches (exactly equal on
    # this data; the JVM estimator may differ by 1 ulp in linear counting)
    p = {
        k[0]: HLL.from_bytes(v).estimate()
        for k, v in _py(orders, "o_custkey", ["o_orderpriority"]).items()
    }
    assert u == p


@pytest.mark.parametrize(
    "case",
    ["sparse_under_cap", "boundary_exact_cap", "dense_over_cap", "chains_sparse", "chains_dense"],
)
def test_udaf_crafted_hash_edges(udaf_spark, case):
    """Feed PRECOMPUTED 64-bit hashes straight to the aggregate column so the
    sparse→dense promotion boundary and the rho-overflow chain rows
    (suffix==0, probability ~2^-39 — unreachable via real data) are
    exercised, then compare the aggregate's own bytes with HLL.add_hashes
    over the same hashes, and its in-JVM estimate with HLL.estimate()."""
    b, binbits = 14, 6
    cap = sparse_capacity(b)
    rng = np.random.RandomState(7)

    def rand(n):
        return rng.randint(-(2**63), 2**63, size=n, dtype=np.int64)

    chain_rows = np.arange(1, 6, dtype=np.int64) << 39  # h << pprime == 0
    hs = {
        "sparse_under_cap": rand(cap // 2),
        "boundary_exact_cap": rand(cap),
        "dense_over_cap": rand(cap * 40),
        "chains_sparse": np.concatenate([rand(100), chain_rows]),
        "chains_dense": np.concatenate([rand(cap * 40), chain_rows, np.zeros(1, dtype=np.int64)]),
    }[case]
    sdf = udaf_spark.createDataFrame([(int(x),) for x in hs], "h long").repartition(4)
    col = ju.hll_udaf_column(udaf_spark, F.col("h"), b, binbits)
    agged = sdf.groupBy().agg(col.alias("blob"))
    row = agged.select("blob", ju.hll_estimate_col(udaf_spark, "blob").alias("est")).first()
    ref = HLL.create(b=b, binbits=binbits, hash_kind=HASH_XXHASH_SPARK)
    ref.add_hashes(hs.view(np.uint64))
    assert bytes(row["blob"]) == ref.to_bytes()
    assert ref.is_sparse == ("sparse" in case or case == "boundary_exact_cap")
    est = ref.estimate()
    assert row["est"] == est or abs(row["est"] - est) <= math.ulp(est)


def test_auto_engine_routes_to_udaf(udaf_spark):
    # engine="auto" must produce identical bytes whichever engine it picks
    df = udaf_spark.range(5000).select((F.col("id") % 997).alias("v"))
    auto = bytes(agg.sketch(df, "v").first()["sketch"])
    forced = bytes(ju.sketch_jvm_udaf(df, "v").first()["sketch"])
    assert auto == forced


def test_udaf_merges_with_other_engine_sketches(udaf_spark):
    """Sketches from the udaf engine carry the same hash_kind and must merge
    freely with python-engine (jvm_prehash) sketches of the same params."""
    df1 = udaf_spark.range(0, 3000).select(F.col("id").alias("v"))
    df2 = udaf_spark.range(2000, 5000).select(F.col("id").alias("v"))
    a = HLL.from_bytes(bytes(ju.sketch_jvm_udaf(df1, "v").first()["sketch"]))
    b_ = HLL.from_bytes(_py(df2, "v")[()])
    merged = a.merge(b_)
    direct = HLL.from_bytes(
        bytes(ju.sketch_jvm_udaf(udaf_spark.range(0, 5000).select(F.col("id").alias("v")), "v").first()["sketch"])
    )
    assert merged.estimate() == direct.estimate()


def test_udaf_high_cardinality_grouping_sort_fallback(udaf_spark):
    """16k group keys blow past ObjectHashAggregate's default 128-key
    in-memory threshold, forcing the sort-based fallback — buffers must
    still be exact (byte parity with the python engine).
    Sessions doing high-cardinality grouped sketches should raise
    spark.sql.objectHashAggregate.sortBased.fallbackThreshold (bench.py
    does); this test runs at the DEFAULT to pin fallback correctness."""
    df = udaf_spark.range(200_000).select(
        (F.col("id") % 16384).alias("g"), (F.col("id") % 4099).alias("v")
    )
    u = _by_key(ju.sketch_jvm_udaf(df, "v", ["g"]), ["g"])
    assert len(u) == 16384 and u == _py(df, "v", ["g"])


def test_countmin_udaf_byte_parity(udaf_spark, sf001_dir):
    """CountMin aggregate buffer vs the python engine: byte-identical
    sketches, grouped (incl. all-NULL group + NULL key) and global."""
    ev = udaf_spark.read.parquet(f"{sf001_dir}/events.parquet")
    u = _by_key(ju.countmin_jvm_udaf(ev, "user_id", ["event_type"], width=512, depth=4), ["event_type"])
    g = _py_sibling(ev, "user_id", "countmin", ["event_type"], width=512, depth=4)
    assert u == g and len(u) >= 2

    rows = [(1, 10), (1, 11), (2, None), (None, 12)]
    df = udaf_spark.createDataFrame(rows, "g int, v int")
    u2 = _by_key(ju.countmin_jvm_udaf(df, "v", ["g"], width=64, depth=3), ["g"])
    assert u2 == _py_sibling(df, "v", "countmin", ["g"], width=64, depth=3)
    assert u2[(2,)] is None and u2[(None,)] is not None

    ug = ju.countmin_jvm_udaf(ev, "user_id", width=512, depth=4).first()["sketch"]
    assert bytes(ug) == _py_sibling(ev, "user_id", "countmin", width=512, depth=4)[()]


def test_bloom_udaf_byte_parity(udaf_spark, sf001_dir):
    from hllspark.sketches.bloom import Bloom

    o = udaf_spark.read.parquet(f"{sf001_dir}/orders.parquet")
    u = bytes(ju.bloom_jvm_udaf(o, "o_orderkey", m_bits=1 << 14, k=5).first()["sketch"])
    assert u == _py_sibling(o, "o_orderkey", "bloom", m_bits=1 << 14, k=5)[()]
    # the parity bytes decode to a working filter
    bf = Bloom.from_bytes(u)
    assert bf.n_added == o.count()

    rows = [(1, "a"), (1, "b"), (9, None)]
    df = udaf_spark.createDataFrame(rows, "g int, v string")
    u2 = _by_key(ju.bloom_jvm_udaf(df, "v", ["g"], m_bits=256, k=3), ["g"])
    assert u2 == _py_sibling(df, "v", "bloom", ["g"], m_bits=256, k=3) and u2[(9,)] is None


def test_sibling_param_validation_and_version_skew(udaf_spark):
    """Review regressions: invalid sibling params must raise the same
    ValueError as the python builders (not build silently-wrong sketches),
    and a class missing from the loaded jar fails loudly — the jar digest
    check (jvm_udaf.available) keeps a stale jar from loading at all."""
    df = udaf_spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ValueError):
        ju.bloom_jvm_udaf(df, "v", k=0)
    with pytest.raises(ValueError):
        ju.bloom_jvm_udaf(df, "v", m_bits=4)
    with pytest.raises(ValueError):
        ju.countmin_jvm_udaf(df, "v", width=1)
    with pytest.raises(ValueError):
        ju.bloom_jvm_udaf(df, "v", m_bits=(2**31) * 8)
    with pytest.raises(Exception):
        ju._sibling_udaf_column(udaf_spark, F.col("v"), "hllsparkjvm.NoSuchAggregator", [1])


def test_sibling_registrations_are_cached(udaf_spark):
    """A sibling builder or stored merge registers its Java aggregator once
    per (class, params, encoder) and app; a class that fails to build
    caches nothing, so every call raises."""
    df = udaf_spark.createDataFrame([(1, 2), (1, 3), (2, None)], "g int, v bigint")
    app, cache = ju._app_key(udaf_spark), ju._UDAF_COL_CACHE
    cm = [(app, "hllsparkjvm.CountMinAggregator", w, 3, "long") for w in (64, 128)]
    merge = (app, "hllsparkjvm.HllMergeAggregator", "binary")
    for k in (*cm, merge):
        cache.pop(k, None)

    a = _by_key(ju.countmin_jvm_udaf(df, "v", ["g"], width=64, depth=3), ["g"])
    judf = cache[cm[0]]
    assert _by_key(ju.countmin_jvm_udaf(df, "v", ["g"], width=64, depth=3), ["g"]) == a
    assert cache[cm[0]] is judf and cm[1] not in cache
    ju.countmin_jvm_udaf(df, "v", ["g"], width=128, depth=3)
    assert cache[cm[1]] is not judf
    stored = ju.hll_merge_udaf(ju.sketch_jvm_udaf(df, "v", ["g"]), "sketch", ["g"])
    merge_udf = cache[merge]
    ju.hll_merge_udaf(stored, "sketch")
    assert cache[merge] is merge_udf
    for _ in range(2):
        with pytest.raises(Exception):
            ju._sibling_udaf_column(udaf_spark, F.col("v"), "hllsparkjvm.NoSuchAggregator", [1])
    assert not [k for k in cache if k[1] == "hllsparkjvm.NoSuchAggregator"]


# ---------------------------------------------------------------------------
# round 4: MinHash + quantile (t-digest / KLL) aggregate buffers
# ---------------------------------------------------------------------------


def test_minhash_udaf_byte_parity(udaf_spark, pages_small_dir):
    """MinHash aggregate buffer vs the python engine: min-merge is exact,
    so byte parity holds unconditionally (grouped incl. NULL contract +
    global), and the in-JVM xxhash64(h, lit(j)) replay must match the
    python remix of Spark's expression chain (minhash._remix_spark)."""
    from hllspark.sketches.minhash import MinHash

    pages = udaf_spark.read.parquet(pages_small_dir)
    u = _by_key(ju.minhash_jvm_udaf(pages, "url", ["lang"], k=32), ["lang"])
    assert u == _py_sibling(pages, "url", "minhash", ["lang"], k=32) and len(u) >= 2

    rows = [(1, "a"), (1, "b"), (2, None), (None, "c")]
    df = udaf_spark.createDataFrame(rows, "g int, v string")
    u2 = _by_key(ju.minhash_jvm_udaf(df, "v", ["g"], k=16), ["g"])
    assert u2 == _py_sibling(df, "v", "minhash", ["g"], k=16)
    assert u2[(2,)] is None and u2[(None,)] is not None

    ug = bytes(ju.minhash_jvm_udaf(pages, "url", k=32).first()["sketch"])
    assert ug == _py_sibling(pages, "url", "minhash", k=32)[()]
    mh = MinHash.from_bytes(ug)
    assert mh.k == 32 and mh.n_added == pages.count()

    with pytest.raises(ValueError):
        ju.minhash_jvm_udaf(df, "v", k=0)


def _assert_non_finite_groups(spark, builder, cls, kind, quantile_ref):
    """±inf are dropped from the exact fold like update_weighted drops them:
    group 1 mixes them with finite values, group 2 holds only ±inf and must
    finish to an EMPTY sketch (not NULL), group 3 holds only NULLs and must
    finish to NULL.  Past exact_capacity the digest / compactor mode drops
    them too."""
    inf = float("inf")
    rows = [(1, 1.5), (1, inf), (1, -inf), (1, 2.5), (1, 1.5), (1, -3.0)]
    rows += [(2, inf), (2, -inf), (2, inf), (3, None), (3, None)]
    df = spark.createDataFrame(rows, "g int, v double").repartition(3)
    ref = quantile_ref(df, "v", ["g"], kind)
    assert _by_key(builder(df, "v", ["g"]), ["g"]) == ref
    assert ref[(2,)] is not None and ref[(3,)] is None

    big = spark.createDataFrame([(float(i),) for i in range(100)] + [(inf,), (-inf,)], "v double").coalesce(1)
    st = cls.from_bytes(bytes(builder(big, "v", exact_capacity=16).first()["sketch"]))
    assert (st.total, st.vmin, st.vmax) == (100, 0.0, 99.0)


def test_tdigest_udaf_exact_mode_byte_parity(udaf_spark, sf001_dir, quantile_ref):
    """While every buffer stays under exact_capacity distinct values the
    udaf engine must be byte-identical to the direct python fold (one
    sorted weighted update over the distinct values, which the jar's
    finish replays)."""
    li = udaf_spark.read.parquet(f"{sf001_dir}/lineitem.parquet")
    u = _by_key(ju.tdigest_jvm_udaf(li, "l_extendedprice", ["l_returnflag"]), ["l_returnflag"])
    assert u == quantile_ref(li, "l_extendedprice", ["l_returnflag"], "tdigest") and len(u) >= 2

    ug = bytes(ju.tdigest_jvm_udaf(li, "l_quantity").first()["sketch"])
    assert ug == quantile_ref(li, "l_quantity", [], "tdigest")[()]
    _assert_non_finite_groups(udaf_spark, ju.tdigest_jvm_udaf, TDigest, "tdigest", quantile_ref)


def test_kll_udaf_exact_mode_byte_parity(udaf_spark, sf001_dir, quantile_ref):
    li = udaf_spark.read.parquet(f"{sf001_dir}/lineitem.parquet")
    u = _by_key(ju.kll_jvm_udaf(li, "l_quantity", ["l_returnflag"]), ["l_returnflag"])
    assert u == quantile_ref(li, "l_quantity", ["l_returnflag"], "kll") and len(u) >= 2

    ug = bytes(ju.kll_jvm_udaf(li, "l_extendedprice").first()["sketch"])
    assert ug == quantile_ref(li, "l_extendedprice", [], "kll")[()]
    _assert_non_finite_groups(udaf_spark, ju.kll_jvm_udaf, KLL, "kll", quantile_ref)


def test_quantile_udaf_null_contract(udaf_spark):
    rows = [(1, 10.0), (1, 20.0), (1, float("nan")), (2, None), (2, float("nan")), (None, 5.0)]
    df = udaf_spark.createDataFrame(rows, "g int, v double")
    for fn in (ju.tdigest_jvm_udaf, ju.kll_jvm_udaf):
        got = _by_key(fn(df, "v", ["g"]), ["g"])
        assert got[(2,)] is None  # NULL + NaN only → SQL NULL sketch
        assert got[(1,)] is not None and got[(None,)] is not None
        # zero-rows global → one row, NULL sketch
        empty = df.filter("v < -1e18")
        assert fn(empty, "v").first()["sketch"] is None


def test_quantile_udaf_digest_mode_accuracy(udaf_spark):
    """Past exact_capacity the buffers fold into bounded sketches; quantile
    estimates must stay inside the documented rank-error bounds while the
    serialized state stays O(delta)/O(k) instead of O(distinct)."""
    import numpy as np

    from hllspark.sketches.kll import KLL
    from hllspark.sketches.tdigest import TDigest

    n = 200_000
    # continuous, non-uniform, distinct ≈ n
    df = udaf_spark.range(n).selectExpr("cast(xxhash64(id) as double) / 9.3e18 as v")
    exact = np.sort(np.array([r["v"] for r in df.collect()]))

    td_bytes = bytes(ju.tdigest_jvm_udaf(df, "v", delta=200, exact_capacity=1000).first()["sketch"])
    td = TDigest.from_bytes(td_bytes)
    assert td.n_centroids <= 4 * 200  # bounded, NOT O(distinct)
    assert abs(td.total - n) < 1e-6
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = td.quantile(q)
        true_rank = np.searchsorted(exact, est) / n
        assert abs(true_rank - q) < 0.02, (q, est, true_rank)

    kll_bytes = bytes(ju.kll_jvm_udaf(df, "v", k=400, exact_capacity=1000).first()["sketch"])
    kl = KLL.from_bytes(kll_bytes)
    assert sum(len(b) for b in kl.levels) <= 30 * 400  # bounded retained items
    assert kl.total == n
    for q in (0.05, 0.25, 0.5, 0.75, 0.95):
        est = kl.quantile(q)
        true_rank = np.searchsorted(exact, est) / n
        assert abs(true_rank - q) < 0.03, (q, est, true_rank)


def test_quantile_udaf_mixed_mode_merge(udaf_spark, quantile_ref):
    """Skewed grouping: one group overflows exact_capacity (digest mode),
    another stays exact — the exact group must STILL be byte-identical to
    the direct python fold (per-group mode independence), and the digest
    group must carry the full total."""
    from hllspark.sketches.tdigest import TDigest

    big = udaf_spark.range(50_000).selectExpr("'hot' as g", "cast(xxhash64(id) as double) as v")
    small = udaf_spark.range(40).selectExpr("'cold' as g", "cast(id as double) as v")
    df = big.unionByName(small).repartition(8)
    u = _by_key(ju.tdigest_jvm_udaf(df, "v", ["g"], exact_capacity=1000), ["g"])
    cold = quantile_ref(df.filter("g = 'cold'"), "v", ["g"], "tdigest")
    assert u[("cold",)] == cold[("cold",)]  # exact mode: byte parity
    hot = TDigest.from_bytes(u[("hot",)])
    assert abs(hot.total - 50_000) < 1e-6
    med = hot.quantile(0.5)
    assert abs(med) < 0.05 * 9.3e18  # xxhash64 is ~uniform over int64


def test_kll_udaf_mixed_mode_merge(udaf_spark, quantile_ref):
    """KLL twin of the t-digest mixed-mode test: a hot group overflows into
    compactor mode while a cold group stays exact — per-group mode
    independence, full total carried, exact group byte-identical."""
    from hllspark.sketches.kll import KLL

    big = udaf_spark.range(50_000).selectExpr("'hot' as g", "cast(xxhash64(id) as double) as v")
    small = udaf_spark.range(40).selectExpr("'cold' as g", "cast(id as double) as v")
    df = big.unionByName(small).repartition(8)
    u = _by_key(ju.kll_jvm_udaf(df, "v", ["g"], exact_capacity=1000), ["g"])
    cold = quantile_ref(df.filter("g = 'cold'"), "v", ["g"], "kll")
    assert u[("cold",)] == cold[("cold",)]  # exact mode: byte parity
    hot = KLL.from_bytes(u[("hot",)])
    assert hot.total == 50_000
    assert sum(len(b) for b in hot.levels) <= 30 * 200  # bounded retained items
    med = hot.quantile(0.5)
    assert abs(med) < 0.05 * 9.3e18  # xxhash64 ~uniform over int64


# ---------------------------------------------------------------------------
# round 4: merge of stored canonical sketch blobs (HllMergeAggregator)
# ---------------------------------------------------------------------------


def test_hll_merge_udaf_byte_parity_all_encodings(udaf_spark):
    """Stored counters in EVERY serialized form (raw sparse, group-varint
    sparse, raw dense, bit-packed dense, deflated dense) merged by the JVM
    blob aggregator must be byte-identical to agg.merge_partials."""
    import numpy as np

    from hllspark.core.hash import hash_int64

    rows = []
    rng = np.random.RandomState(3)
    for g in range(4):
        for part in range(5):
            h = HLL.create()  # murmur hash_kind
            # g 0-1: ~250 distinct → merged groups STAY SPARSE (cap 1020);
            # g 2-3: tens of thousands → dense
            vals = rng.randint(0, 300 + 40_000 * (g // 2), size=80 + 3000 * (g // 2))
            h.add_hashes(hash_int64(vals.astype(np.int64)))
            blob = h.to_bytes(
                packed=bool(part % 2),
                compress=bool(part in (2, 3)),
            )
            rows.append((g, bytearray(blob)))
    df = udaf_spark.createDataFrame(rows, "g int, sketch binary").repartition(6)
    u = _by_key(ju.hll_merge_udaf(df, "sketch", ["g"]), ["g"])
    p = _by_key(agg.merge_partials(df.select("g", "sketch"), ["g"]), ["g"])
    assert u == p and len(u) == 4
    # forms round-trip: decode and check dense/sparse mix actually occurred
    kinds = {HLL.from_bytes(v).is_sparse for v in u.values()}
    assert kinds == {True, False}

    # global merge parity too
    ug = bytes(ju.hll_merge_udaf(df.select("sketch"), "sketch").first()["sketch"])
    pg = bytes(agg.merge_partials(df.select("sketch")).first()["sketch"])
    assert ug == pg


def test_hll_merge_udaf_null_and_estimates(udaf_spark):
    import numpy as np

    from hllspark.core.hash import hash_int64

    h1 = HLL.create()
    h1.add_hashes(hash_int64(np.arange(1000, dtype=np.int64)))
    h2 = HLL.create()
    h2.add_hashes(hash_int64(np.arange(500, 2000, dtype=np.int64)))
    rows = [(1, bytearray(h1.to_bytes())), (1, bytearray(h2.to_bytes())), (1, None), (2, None)]
    df = udaf_spark.createDataFrame(rows, "g int, sketch binary")
    got = _by_key(ju.hll_merge_udaf(df, "sketch", ["g"]), ["g"])
    assert got[(2,)] is None  # group of only NULL counters → SQL NULL
    merged = HLL.from_bytes(got[(1,)])
    direct = h1.copy().merge(h2)
    assert merged.to_bytes() == direct.to_bytes()
    # estimate finalizes
    r = ju.hll_merge_udaf(df, "sketch", ["g"], finalize="estimate_bigint").collect()
    ests = {row["g"]: row["est"] for row in r}
    assert ests[2] == 0 and abs(ests[1] - 2000) < 2000 * 0.03


def test_hll_merge_udaf_mismatch_refusal(udaf_spark):
    """Mismatched precision or hash kind must refuse to merge (reference
    hyperloglog.c:858-874 + the hash_kind contract) — loudly, not silently."""
    import numpy as np

    from hllspark.core.hll import HASH_XXHASH_SPARK
    from hllspark.core.hash import hash_int64

    a = HLL.create(b=14, binbits=6)
    a.add_hashes(hash_int64(np.arange(10, dtype=np.int64)))
    b_ = HLL.create(b=12, binbits=6)
    b_.add_hashes(hash_int64(np.arange(10, dtype=np.int64)))
    df = udaf_spark.createDataFrame(
        [(bytearray(a.to_bytes()),), (bytearray(b_.to_bytes()),)], "sketch binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="different parameters"):
        ju.hll_merge_udaf(df, "sketch").collect()

    c = HLL.create(b=14, binbits=6, hash_kind=HASH_XXHASH_SPARK)
    c.add_hashes(np.arange(10, dtype=np.uint64))
    df2 = udaf_spark.createDataFrame(
        [(bytearray(a.to_bytes()),), (bytearray(c.to_bytes()),)], "sketch binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="[Hh]ash kind"):
        ju.hll_merge_udaf(df2, "sketch").collect()


def test_merge_partials_auto_routes_through_udaf(udaf_spark):
    """agg.merge_partials(engine='auto') must route HLL merges through the
    JVM blob aggregator when the jar loads — byte-identical to the pandas
    path, and the plan free of applyInPandas (FlatMapGroupsInPandas)."""
    df = udaf_spark.range(4000).selectExpr("id % 5 as g", "id as v")
    per = agg.sketch(df, "v", by=["g"])
    auto = agg.merge_partials(per.select("sketch"))
    pyth = agg.merge_partials(per.select("sketch"), engine="python")
    assert bytes(auto.first()["sketch"]) == bytes(pyth.first()["sketch"])
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "ObjectHashAggregate" in plan
    # explicit merge_rounds keeps the pandas topology (its invariance test
    # must keep exercising the bucketed path)
    pinned = agg.merge_partials(per.select("g", "sketch"), ["g"], merge_rounds=2)
    assert "FlatMapGroupsInPandas" in pinned._jdf.queryExecution().executedPlan().toString()


def test_hll_merge_udaf_empty_counter_not_null(udaf_spark):
    """Review regression: a LEGITIMATE empty stored counter (zero entries,
    non-NULL blob) must survive the blob-merge as an empty sketch — NULL is
    reserved for all-NULL groups.  Byte parity with the python merge."""
    empty = HLL.create()
    df = udaf_spark.createDataFrame([(1, bytearray(empty.to_bytes()))], "g int, sketch binary")
    u = _by_key(ju.hll_merge_udaf(df, "sketch", ["g"]), ["g"])
    p = _by_key(agg.merge_partials(df.select("g", "sketch"), ["g"], engine="python"), ["g"])
    assert u == p
    assert u[(1,)] is not None and HLL.from_bytes(u[(1,)]).estimate() == 0.0
    # estimate finalize agrees (fast path v2 n=0 → 0.0, not NULL)
    r = ju.hll_merge_udaf(df, "sketch", ["g"], finalize="estimate").first()
    assert r["est"] == 0.0


def test_ctor_param_errors_surface_not_masked(udaf_spark):
    """Round-4 ADVICE: a Java ctor guard (IllegalArgumentException) must
    reach the user as a clear ValueError, not be masked as 'jar not
    loadable' or silently rerouted to a fallback engine; a genuinely missing
    class is a resolution failure, not a parameter error."""
    df = udaf_spark.createDataFrame([(1, 1.0)], "g int, v double")
    # Python-side mirrors of the Java exactCap guards fire before any JVM call
    with pytest.raises(ValueError, match="exact_capacity"):
        ju.tdigest_jvm_udaf(df, "v", exact_capacity=4)
    with pytest.raises(ValueError, match="exact_capacity"):
        ju.kll_jvm_udaf(df, "v", exact_capacity=4)
    # the in-JVM CountMin depth*width overflow guard re-raises as ValueError
    with pytest.raises(ValueError, match="flat JVM buffer limit"):
        ju._new_jvm_obj(udaf_spark, "hllsparkjvm.CountMinAggregator", [1 << 26, 33])
    # class-resolution failure raises, but never as a parameter ValueError
    with pytest.raises(Exception) as ei:
        ju._new_jvm_obj(udaf_spark, "hllsparkjvm.NoSuchAggregator", [])
    assert not isinstance(ei.value, ValueError)


def test_b18_memory_envelope_grouped(udaf_spark):
    """Round-5 (verdict item #9): record the b=18 operator envelope.  At
    b=18 a dense buffer is 2^18 = 256 KiB of registers, so the in-memory
    ObjectHashAggregate key budget is fallbackThreshold × 256 KiB — the
    131072-key default recommendation would be a 32 GiB worst case.  This
    test pins that (a) grouped b=18 runs through ObjectHashAggregate, (b) a
    tiny sortBased.fallbackThreshold (sort-based aggregation fallback, the
    path a memory-safe large-b config takes) yields BYTE-IDENTICAL sketches,
    and (c) estimates honor the 1.04/sqrt(2^18) bound.  Sizing guidance
    lives in README.md (cap threshold × 2^b bytes per task)."""
    import math

    from pyspark.sql import functions as F

    n_keys, per_key = 8, 20_000  # > sparse_capacity(18)=16380 → dense merges
    df = udaf_spark.range(n_keys * per_key).select(
        (F.col("id") % n_keys).alias("g"), F.col("id").alias("v")
    )
    out = ju.sketch_jvm_udaf(df, "v", ["g"], b=18, binbits=6)
    assert "ObjectHashAggregate" in out._jdf.queryExecution().executedPlan().toString()
    ref = _by_key(out, ["g"])
    assert all(v is not None for v in ref.values())

    prior = udaf_spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", None)
    udaf_spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
    try:
        fb = _by_key(ju.sketch_jvm_udaf(df, "v", ["g"], b=18, binbits=6), ["g"])
    finally:
        if prior is None:
            udaf_spark.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
        else:
            udaf_spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", prior)
    assert fb == ref  # sort-based fallback: byte-identical state

    bound = 3 * 1.04 / math.sqrt(2**18)
    ests = {
        r["g"]: r["est"]
        for r in ju.sketch_jvm_udaf(df, "v", ["g"], b=18, binbits=6, finalize="estimate").collect()
    }
    for g, est in ests.items():
        assert abs(est - per_key) / per_key < bound


def test_java_illegal_arg_discrimination():
    """Round-5 review fix: on the reflection path, Constructor.newInstance's
    own raw IllegalArgumentException (wrong arity — a version-skewed jar)
    must stay a silent None fallback; only an IAE WRAPPED in
    InvocationTargetException (a guard inside the ctor body) is a user
    parameter error.  Direct py4j path: top-level IAE is the guard."""

    class JE:
        def __init__(self, name, msg=None, cause=None):
            self._name, self._msg, self._cause = name, msg, cause

        def getClass(self):
            return self

        def getName(self):
            return self._name

        def getMessage(self):
            return self._msg

        def getCause(self):
            return self._cause

    class Exc(Exception):
        def __init__(self, je):
            self.java_exception = je

    iae = JE("java.lang.IllegalArgumentException", "k must be in [8, 65535]")
    wrapped = JE("java.lang.reflect.InvocationTargetException", cause=iae)
    arity = JE("java.lang.IllegalArgumentException", "wrong number of arguments")

    # reflection path (require_wrapped=True)
    assert ju._java_illegal_arg(Exc(wrapped), True) == "k must be in [8, 65535]"
    assert ju._java_illegal_arg(Exc(arity), True) is None  # version skew → fallback
    # direct path (require_wrapped=False): top-level IAE is the guard
    assert ju._java_illegal_arg(Exc(iae), False) == "k must be in [8, 65535]"
    # non-IAE failures are never parameter errors
    assert ju._java_illegal_arg(Exc(JE("java.lang.ClassNotFoundException")), False) is None
    assert ju._java_illegal_arg(RuntimeError("no java_exception"), True) is None
