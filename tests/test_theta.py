"""Theta (KMV) sketch: canonical-form merge determinism (state is a pure
function of the value set — stronger than DataSketches' history-dependent
quickselect trim), estimate/set-op accuracy bounds, exact mode, NULL/param
contracts, serialization."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hllspark.core.hash import hash_int32
from hllspark.sketches.theta import _MAX_THETA, Theta


def _hashes(lo, hi):
    return hash_int32(np.arange(lo, hi, dtype=np.int32))


class TestCanonicalForm:
    def test_exact_below_k(self):
        t = Theta.create(k=64)
        t.add_hashes(_hashes(1, 51))
        assert t.is_exact()
        assert t.estimate() == 50.0
        t.add_hashes(_hashes(1, 51))  # duplicates don't change state
        assert t.estimate() == 50.0

    def test_trimmed_state_is_pure_function_of_set(self):
        """The load-bearing invariant: ANY partitioning/ordering of the same
        value set yields byte-identical sketches."""
        rng = np.random.RandomState(17)
        vals = rng.randint(-(2**31), 2**31, size=5000, dtype=np.int64).astype(np.int32)
        h = hash_int32(vals)
        base = Theta.create(k=256)
        base.add_hashes(h)
        for seed in range(5):
            r = np.random.RandomState(seed)
            perm = r.permutation(len(h))
            cuts = np.sort(r.choice(np.arange(1, len(h)), size=7, replace=False))
            parts = np.split(h[perm], cuts)
            # vary the merge topology too: left fold vs pairwise
            sks = []
            for p in parts:
                s = Theta.create(k=256)
                s.add_hashes(p)
                sks.append(s)
            if seed % 2:
                acc = sks[0]
                for s in sks[1:]:
                    acc.merge(s)
            else:
                while len(sks) > 1:
                    sks = [
                        sks[i].merge(sks[i + 1]) if i + 1 < len(sks) else sks[i]
                        for i in range(0, len(sks), 2)
                    ]
                acc = sks[0]
            assert acc.theta == base.theta
            assert np.array_equal(acc.hashes, base.hashes)
            # n_added differs by duplicates only; canonical bytes minus the
            # n_added field must match
            assert acc.to_bytes()[14:] == base.to_bytes()[14:]

    def test_theta_is_k_plus_1_smallest_of_set(self):
        h = _hashes(1, 1001)
        t = Theta.create(k=100)
        t.add_hashes(h)
        srt = np.sort(np.unique(h))
        assert t.theta == int(srt[100])
        assert np.array_equal(t.hashes, srt[:100])

    @settings(max_examples=25, deadline=None)
    @given(seed=st.integers(0, 2**31 - 1), n=st.integers(0, 2000), nparts=st.integers(1, 6))
    def test_merge_determinism_property(self, seed, n, nparts):
        rng = np.random.RandomState(seed)
        h = rng.randint(0, 2**63, size=n).astype(np.uint64)
        base = Theta.create(k=128)
        base.add_hashes(h)
        acc = Theta.create(k=128)
        for p in np.array_split(rng.permutation(h), nparts):
            s = Theta.create(k=128)
            s.add_hashes(p)
            acc.merge(s)
        assert acc.theta == base.theta
        assert np.array_equal(acc.hashes, base.hashes)


class TestAccuracy:
    def test_distinct_estimate_bound(self):
        # k=4096 → rel std err ~1/sqrt(k-1) ≈ 1.6%; assert 5 sigma
        t = Theta.create(k=4096)
        t.add_hashes(_hashes(1, 100001))
        assert abs(t.estimate() - 100000) / 100000 < 0.08

    def test_set_ops_small_intersection(self):
        """The motivating case: a small intersection of two large sets —
        inclusion–exclusion error scales with the union, theta's with the
        result.  1k overlap between two 50k sets."""
        a = Theta.create(k=4096)
        a.add_hashes(_hashes(1, 50001))
        b = Theta.create(k=4096)
        b.add_hashes(_hashes(49001, 99001))
        inter = a.intersection_estimate(b)
        # std err ≈ sqrt(inter * union)/sqrt(k) ≈ sqrt(1e3*1e5)/64 ≈ 156
        assert abs(inter - 1000) < 1000
        union = a.union_estimate(b)
        assert abs(union - 99000) / 99000 < 0.08
        anb = a.a_not_b_estimate(b)
        assert abs(anb - 49000) / 49000 < 0.1
        j = a.jaccard_estimate(b)
        assert abs(j - 1000 / 99000) < 0.01

    def test_exact_mode_set_ops_are_exact(self):
        a = Theta.create(k=4096)
        a.add_hashes(_hashes(1, 301))
        b = Theta.create(k=4096)
        b.add_hashes(_hashes(201, 501))
        assert a.intersection_estimate(b) == 100.0
        assert a.a_not_b_estimate(b) == 200.0
        assert a.union_estimate(b) == 500.0

    def test_asymmetric_theta_set_ops(self):
        """One trimmed sketch, one exact: ops filter at min(theta)."""
        big = Theta.create(k=512)
        big.add_hashes(_hashes(1, 20001))
        small = Theta.create(k=512)
        small.add_hashes(_hashes(1, 301))  # subset, exact
        inter = big.intersection_estimate(small)
        # true intersection 300; sampled at big's theta
        assert abs(inter - 300) < 200
        assert small.a_not_b_estimate(big) < 120  # truth 0


class TestContracts:
    def test_k_mismatch_refuses(self):
        a, b = Theta.create(k=64), Theta.create(k=128)
        with pytest.raises(ValueError, match="k differs"):
            a.merge(b)
        with pytest.raises(ValueError, match="k differs"):
            a.intersection_estimate(b)

    def test_hash_kind_mismatch_refuses(self):
        a, b = Theta.create(k=64), Theta.create(k=64, hash_kind=1)
        with pytest.raises(ValueError, match="hash kind"):
            a.merge(b)

    def test_k_range(self):
        with pytest.raises(ValueError):
            Theta.create(k=15)
        with pytest.raises(ValueError):
            Theta.create(k=(1 << 26) + 1)

    def test_serialization_roundtrip(self):
        for n in (0, 10, 5000):
            t = Theta.create(k=256, hash_kind=1)
            if n:
                t.add_hashes(np.arange(1, n + 1, dtype=np.uint64) * np.uint64(0x9E3779B9))
            back = Theta.from_bytes(t.to_bytes())
            assert back.k == t.k and back.theta == t.theta
            assert back.hash_kind == t.hash_kind and back.n_added == t.n_added
            assert np.array_equal(back.hashes, t.hashes)
            assert back.to_bytes() == t.to_bytes()

    def test_future_version_refuses(self):
        t = Theta.create(k=64)
        blob = bytearray(t.to_bytes())
        blob[0] = 99
        with pytest.raises(ValueError, match="version"):
            Theta.from_bytes(bytes(blob))

    def test_equals(self):
        a = Theta.create(k=64)
        a.add_hashes(_hashes(1, 1000))
        b = Theta.create(k=64)
        b.add_hashes(_hashes(1, 1000))
        assert a.equals(b)
        b.add_hashes(_hashes(2000, 2100))
        assert not a.equals(b)

    def test_empty_sketch(self):
        t = Theta.create(k=64)
        assert t.estimate() == 0.0
        assert t.is_exact()
        assert t.theta == _MAX_THETA
        other = Theta.create(k=64)
        other.add_hashes(_hashes(1, 10))
        assert t.union_estimate(other) == 9.0
        assert t.intersection_estimate(other) == 0.0


class TestThetaSpark:
    def test_router_build_and_sql_surface(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F

        from hllspark import sketches
        from hllspark.core.xxhash import spark_xxhash64_series
        from hllspark.functions import register_sql
        from hllspark.sketches.theta import Theta

        n = 30000
        df = (
            spark.range(1, n + 1)
            .select(
                F.when(F.col("id") <= n // 2, F.lit("a")).otherwise(F.lit("b")).alias("g"),
                (F.col("id") % 20000).alias("v"),
            )
            .repartition(8)
        )
        out = sketches.build(df, "v", "theta", by=["g"], k=1024).collect()
        got = {r["g"]: Theta.from_bytes(bytes(r["sketch"])) for r in out}
        # engine parity oracle: pure-python replay over the exact value sets
        for g, lo, hi in (("a", 1, n // 2 + 1), ("b", n // 2 + 1, n + 1)):
            vals = pd.Series((np.arange(lo, hi) % 20000).astype(np.int64))
            ref = Theta.create(k=1024, hash_kind=1)
            ref.add_hashes(spark_xxhash64_series(vals))
            assert got[g].theta == ref.theta, g
            assert np.array_equal(got[g].hashes, ref.hashes), g
        # deterministic across a different partitioning (Spark-level replay)
        out2 = sketches.build(df.repartition(3), "v", "theta", by=["g"], k=1024).collect()
        got2 = {r["g"]: bytes(r["sketch"]) for r in out2}
        for g in got:
            assert got2[g][14:] == got[g].to_bytes()[14:]  # modulo n_added

        register_sql(spark)
        sdf = sketches.build(df, "v", "theta", by=["g"], k=1024)
        sdf.createOrReplaceTempView("theta_t")
        row = spark.sql(
            "SELECT theta_intersection(a.sketch, b.sketch) AS inter, "
            "theta_union_estimate(a.sketch, b.sketch) AS uni, "
            "theta_a_not_b(a.sketch, b.sketch) AS anb, "
            "theta_jaccard(a.sketch, b.sketch) AS j, "
            "theta_estimate(a.sketch) AS ea "
            "FROM (SELECT sketch FROM theta_t WHERE g='a') a, "
            "(SELECT sketch FROM theta_t WHERE g='b') b"
        ).first()
        # a: {1..15000} (15000 distinct); b: {15001..19999} ∪ {0..10000}
        # (15000 distinct); inter = {1..10000} = 10000; union = {0..19999}
        # = 20000; a\\b = {10001..15000} = 5000; J = 0.5
        assert abs(row["inter"] - 10000) / 10000 < 0.15
        assert abs(row["uni"] - 20000) / 20000 < 0.1
        assert abs(row["anb"] - 5000) / 5000 < 0.25
        assert abs(row["ea"] - 15000) / 15000 < 0.1
        assert 0.35 < row["j"] < 0.65  # truth 10000/20000 = 0.5

    def test_merge_stored_router(self, spark):
        from pyspark.sql import functions as F

        from hllspark import sketches
        from hllspark.sketches.theta import Theta

        df = spark.range(1, 5001).select(F.col("id").alias("v"))
        parts = sketches.build(
            df.withColumn("p", F.pmod(F.col("v"), F.lit(4))), "v", "theta", by=["p"], k=256
        ).drop("p")
        merged = sketches.merge_stored(parts, "theta").collect()
        assert len(merged) == 1
        est = Theta.from_bytes(bytes(merged[0]["sketch"])).estimate()
        assert abs(est - 5000) / 5000 < 0.15

    def test_engine_guards(self, spark):
        from pyspark.sql import functions as F

        from hllspark import sketches

        df = spark.range(10).select(F.col("id").alias("v"))
        with pytest.raises(ValueError, match="python engine only"):
            sketches.build(df, "v", "theta", engine="jvm")
        with pytest.raises(ValueError, match="python engine only"):
            sketches.build(df, "v", "theta", engine="jvm_udaf")


class TestShardOverlap:
    def test_engineered_overlap_exact(self, spark):
        from pyspark.sql import functions as F

        from hllspark.pipeline import dedup

        # shards 0/1/2 over ids 0..499 via two shifted 200-wide windows:
        # 0={0..199}, 1={100..399}, 2={300..499}
        ids = spark.range(0, 500).select(F.col("id").alias("doc_id"))
        a = ids.select(F.floor(F.col("doc_id") / 200).alias("shard"), "doc_id")
        b = ids.select(F.floor((F.col("doc_id") + 100) / 200).alias("shard"), "doc_id")
        ov = dedup.shard_overlap(a.unionByName(b), "shard", "doc_id", k=4096)
        rows = {(r["shard_a"], r["shard_b"]): r for r in ov.collect()}
        assert set(rows) == {(0, 1), (0, 2), (1, 2)}
        assert rows[(0, 1)]["inter_est"] == 100.0  # exact mode
        assert rows[(0, 2)]["inter_est"] == 0.0
        assert rows[(1, 2)]["union_est"] == 400.0
        assert abs(rows[(0, 1)]["jaccard_est"] - 100 / 400) < 1e-9
        # include_self adds the diagonal
        ov2 = dedup.shard_overlap(a.unionByName(b), "shard", "doc_id", k=4096, include_self=True)
        assert ov2.count() == 6
