"""The two closed-loop workloads.  One client: each call waits for the
previous one.  Every workload has the same shape:

    prepare()   write this seed's inputs (counted in set-up)
    warm()      one untimed round of every operation (counted in set-up)
    step()      one closed-loop operation, timed and checked
    covered()   whether the loop has enough samples of every operation type
    finish()    end-of-run work and checks outside the loop
    detail()    the workload's own end-to-end figures (printed, not gated)
    layers()    per-layer figures for the traced run

Timings cover the library call and the action that runs it; the output
checks run after the clock stops.
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hllspark import agg, functions, io, jvm_udaf, streaming
from hllspark.core.hll import HLL, merge_blobs, union_estimate
from hllspark.core.xxhash import spark_xxhash64_series
from hllspark.sketches import KLL, CountMin, TDigest, router

from . import gen
from .harness import median, pctl

# rank tolerance of a returned median: for t-digest (delta=100, k1 scale) one
# centroid at the median spans π/delta of the rank, and where the data has a
# gap (warc_ts wraps at 86400 s) interpolation can land anywhere inside it;
# KLL (k=200) stays within 2%
TDIGEST_RANK_TOL = math.pi / 100
KLL_RANK_TOL = 0.02


def geomean_of_medians(lat: dict, names) -> float:
    """Geometric mean over operation types of each type's median latency: a
    query mix whose per-run sample counts differ still weighs every type
    once, and the slowest type's noise does not outweigh the others'."""
    meds = [median(lat[n]) for n in names if lat.get(n)]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def tail_name(prefix: str, values: list[float]) -> tuple[str, float] | None:
    """The highest of p99/p90/p75/p50 that has at least ten samples beyond it."""
    for q in (0.99, 0.90, 0.75, 0.50):
        if len(values) * (1 - q) >= 10:
            return f"{prefix}_p{round(q * 100)}_s", pctl(values, q)
    return None


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx  # run.Context: spark session, spans, ops, seed, work dir

    @property
    def spark(self):
        return self.ctx.session.spark

    def span(self, name):
        return self.ctx.spans.span(name)

    def op(self, name, call, check):
        """One closed-loop operation: ``call`` is timed inside a root span,
        ``check(result)`` runs after the clock stops."""
        ops = self.ctx.ops
        ops.attempted[name] += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                res = call()
            dt = time.perf_counter() - t0
            ok = check(res) is not False
        except Exception:
            traceback.print_exc()
            ok, dt = False, time.perf_counter() - t0
        if ok:
            ops.lat[name].append(dt)
        else:
            ops.failed[name] += 1
            print(f"perfbench: operation {name} failed", file=sys.stderr)
        return ok, dt

    def latencies(self, *names) -> list[float]:
        return [x for n in names for x in self.ctx.ops.lat.get(n, [])]

    def layer_median(self, name: str) -> float:
        return median(self.ctx.spans.self_time_list(name))


# ---------------------------------------------------------------------------
# scan_build
# ---------------------------------------------------------------------------


class ScanBuild(Workload):
    """Repeated passes of sketch-building queries over a fresh pages table."""

    name = "scan_build"
    # one parquet file per core; N_ROWS / cores keys per task stays past the
    # 131072-key in-memory limit of ObjectHashAggregate in url_ts_groups
    N_ROWS = 600_000
    # rows_per_s: the plain distinct counts through agg.distinct;
    # query_s: the sketch builds with many groups or other sketch kinds
    SCANS = ("global_url", "lang_url", "text_hash")
    BUILDS = ("site_url", "url_ts_groups", "tdigest_ts", "kll_ts", "countmin_site")
    QUERIES = SCANS + BUILDS
    # a scan takes a quarter of a build's time: repeated within a pass, the
    # scans get enough samples for a steady median
    SCAN_REPEAT = 3

    def prepare(self):
        with self.span("pages.gen"):
            gen.pages_df(self.spark, self.ctx.seed, self.N_ROWS, self.ctx.session.cores).write.parquet(self.path)

    @property
    def path(self) -> str:
        return str(self.ctx.work / "pages")

    def truth(self):
        """The exact answers the queries are checked against."""
        self.t = gen.PagesTruth(self.ctx.seed, self.N_ROWS)
        self.n_docs = len(self.t.docs)
        self.lang_exact = self.t.by_lang()
        self.site_exact = self.t.by_site()
        self.cm_sites = sorted(self.site_exact, key=self.site_exact.get, reverse=True)[:100]
        self.ts_sorted = np.sort(self.t.ts.astype(np.float64))
        self.ts_lang = {lang: np.sort(self.t.ts[self.t.row_lang == lang].astype(np.float64)) for lang in self.lang_exact}

    def _df(self):
        return self.spark.read.parquet(self.path)

    def _rank_ok(self, sorted_vals: np.ndarray, x: float, tol: float) -> bool:
        r = np.searchsorted(sorted_vals, x, side="right") / len(sorted_vals)
        lo = np.searchsorted(sorted_vals, x, side="left") / len(sorted_vals)
        return lo - tol <= 0.5 <= r + tol

    def run_query(self, q: str):
        ops, df = self.ctx.ops, self._df()
        if q == "global_url":
            def call():
                with self.span("agg.distinct"):
                    return agg.distinct(df, "url").collect()
            return self.op(q, call, lambda r: ops.rel_err(r[0]["est"], self.n_docs))
        if q == "lang_url":
            def call():
                with self.span("agg.distinct"):
                    return agg.distinct(df, "url", by=["lang"]).collect()
            return self.op(q, call, lambda r: len(r) == len(self.lang_exact) and all(
                [ops.rel_err(x["est"], self.lang_exact[x["lang"]]) for x in r]))
        if q == "site_url":
            def call():
                with self.span("jvm_udaf.build"):
                    return jvm_udaf.sketch_jvm_udaf(df, "url", by=["site"], finalize="estimate").collect()
            return self.op(q, call, lambda r: len(r) == len(self.site_exact) and all(
                [ops.rel_err(x["est"], self.site_exact[x["site"]]) for x in r]))
        if q == "text_hash":
            def call():
                with self.span("agg.distinct"):
                    return agg.distinct(df.select(F.xxhash64("text").alias("text_h")), "text_h").collect()
            return self.op(q, call, lambda r: ops.rel_err(r[0]["est"], self.n_docs))
        if q == "url_ts_groups":
            # one group per row: past ObjectHashAggregate's in-memory key limit
            def call():
                with self.span("jvm_udaf.build"):
                    est = jvm_udaf.sketch_jvm_udaf(df, "lang", by=["url", "warc_ts"], finalize="estimate")
                    return est.agg(F.count("*").alias("n"), F.min("est").alias("lo"), F.max("est").alias("hi")).collect()[0]
            return self.op(q, call, lambda r: r["n"] == self.N_ROWS and ops.rel_err(r["lo"], 1) and ops.rel_err(r["hi"], 1))
        if q == "tdigest_ts":
            def call():
                with self.span("sketches.tdigest"):
                    return router.build(df, "warc_ts", "tdigest", by=["lang"]).collect()
            return self.op(q, call, lambda r: len(r) == len(self.lang_exact) and all(
                [self._rank_ok(self.ts_lang[x["lang"]], TDigest.from_bytes(bytes(x["sketch"])).quantile(0.5), TDIGEST_RANK_TOL) for x in r]))
        if q == "kll_ts":
            def call():
                with self.span("sketches.kll"):
                    return router.build(df, "warc_ts", "kll").collect()
            return self.op(q, call, lambda r: self._rank_ok(self.ts_sorted, KLL.from_bytes(bytes(r[0]["sketch"])).quantile(0.5), KLL_RANK_TOL))
        if q == "countmin_site":
            def call():
                with self.span("sketches.countmin"):
                    return router.build(df, "site", "countmin").collect()
            return self.op(q, call, self._check_cm)
        raise ValueError(q)

    def _check_cm(self, r) -> bool:
        cm = CountMin.from_bytes(bytes(r[0]["sketch"]))
        probe = pd.Series(self.cm_sites)
        h = spark_xxhash64_series(probe) if cm.hash_kind == 1 else functions.hash_series(probe)
        est = cm.query_hashes(h)
        exact = np.array([self.site_exact[s] for s in self.cm_sites]) * gen.DUP
        # count-min never under-counts; over-counts stay far below 3·ε·N here
        return bool(np.all(est >= exact) and np.all(est - exact <= 3 * cm.epsilon * self.N_ROWS))

    def warm(self):
        # on the full table, so url_ts_groups already takes the sort-based
        # fallback path it takes when timed
        for q in self.QUERIES:
            self.run_query(q)
        self.ctx.ops.lat.clear()

    def start_loop(self, rng):
        self.order: list[str] = []
        self.rng = rng

    def step(self):
        if not self.order:
            # a shuffled pass: every build once, every scan SCAN_REPEAT times
            self.order = list(self.rng.permutation(self.BUILDS + self.SCANS * self.SCAN_REPEAT))
        self.run_query(self.order.pop())

    def covered(self) -> bool:
        # the warm-up round plus two timed passes
        return all(self.ctx.ops.attempted[q] >= 3 for q in self.BUILDS)

    def finish(self):
        pass

    def scale_pair(self) -> float:
        """scan_scale_eff: rows/s of the global + by-lang pair at local[1]
        against nproc × local[nproc] (the BASELINE north rule)."""
        lat = self.ctx.ops.lat
        t_n = median(lat["global_url"]) + median(lat["lang_url"])
        sess, spans = self.ctx.session, self.ctx.spans
        spans.sc = None
        sess.stop_context()
        with self.span("session.start"):
            sess.start(cores=1)
        spans.sc = sess.spark.sparkContext if spans.enabled else None
        one = []
        for _ in range(3):
            self.run_query("global_url")
            self.run_query("lang_url")
            one.append(lat["global_url"][-1] + lat["lang_url"][-1])
        t_1 = median(one[1:])  # the first pair warms the new context
        return t_1 / (sess.cores * t_n) if t_n > 0 else 0.0

    def e2e(self):
        lat = self.ctx.ops.lat
        return self.N_ROWS / geomean_of_medians(lat, self.SCANS), geomean_of_medians(lat, self.BUILDS)

    def detail(self):
        rps, _ = self.e2e()
        out = {"scan_rows_per_s": rps, "scan_queries": len(self.latencies(*self.QUERIES))}
        for q in self.QUERIES:
            out[f"{q}_p50_s"] = median(self.ctx.ops.lat[q])
        return out

    def layers(self):
        out = {
            "jvm_udaf.build_s": self.layer_median("jvm_udaf.build"),
            "agg.distinct_s": self.layer_median("agg.distinct"),
            "sketches.tdigest_s": self.layer_median("sketches.tdigest"),
            "sketches.kll_s": self.layer_median("sketches.kll"),
            "sketches.countmin_s": self.layer_median("sketches.countmin"),
            "pages.rows": float(self.N_ROWS),
        }
        # core kernels on the by-site blobs: decode, merge and estimate
        blobs = [bytes(r["sketch"]) for r in jvm_udaf.sketch_jvm_udaf(self._df(), "url", by=["site"]).collect()]
        out.update(core_timings(self.ctx, blobs))
        out["scan_scale_eff"] = self.scale_pair()
        return out


def core_timings(ctx, blobs: list[bytes]) -> dict:
    with ctx.spans.span("core.decode"):
        t0 = time.perf_counter()
        sk = [HLL.from_bytes(b) for b in blobs]
        dec = time.perf_counter() - t0
    with ctx.spans.span("core.merge"):
        t0 = time.perf_counter()
        acc = sk[0].copy()
        for s in sk[1:]:
            acc.merge(s)
        mer = time.perf_counter() - t0
    with ctx.spans.span("core.estimate"):
        t0 = time.perf_counter()
        for s in sk:
            s.estimate()
        est = time.perf_counter() - t0
    n = len(blobs)
    return {"core.decode_us_per_blob": dec / n * 1e6, "core.merge_us_per_blob": mer / n * 1e6,
            "core.estimate_us": est / n * 1e6}


def _close(a, b, rel: float = 1e-9) -> bool:
    return a is not None and abs(a - b) <= rel * max(1.0, abs(b))


# ---------------------------------------------------------------------------
# serve_ingest
# ---------------------------------------------------------------------------


class ServeIngest(Workload):
    """The table layer used for writes beside reads: dashboard queries
    against a stored rollup of ~100k domain sketches, interleaved with
    micro-batches into a SketchStream and reads of its state; at the end a
    checkpoint run stops half-way and a fresh instance resumes it."""

    name = "serve_ingest"
    N_EVENTS = 600_000
    SERVE_OPS = ("merge_auto", "merge_jvm_est", "merge_driver", "est_pandas", "est_jvm",
                 "union_pandas", "union_jvm")
    # how the loop's time is split, not a model of real traffic: with queries
    # of ~0.4 s and batches of ~0.8 s, every query type gets three samples
    # while the 8-batch compaction cycle completes
    SERVE_PER_BATCH = 3  # dashboard queries between two micro-batches
    N_BATCHES = 8  # pre-split micro-batch files: one compaction cycle
    # one mapInArrow call of the builder per batch (arrow_batch is 131072
    # rows), rounded down to a multiple of gen.DUP so no doc straddles two
    # batches; a batch's time barely grows with its size, so the builder's
    # per-row work is as large a share of it as one call allows
    BATCH_ROWS = 131_070
    READ_EVERY = 2      # a state read after every second micro-batch
    CKPT_EPOCHS = 4

    # -- set-up ----------------------------------------------------------------

    def prepare(self):
        work, spark, seed = self.ctx.work, self.spark, self.ctx.seed
        self.roll, self.cube, self.path = str(work / "rollup"), str(work / "cube"), str(work / "batches")
        ev = gen.events_df(spark, seed, self.N_EVENTS, self.ctx.session.cores)
        with self.span("io.write_sketches"):
            io.write_sketches(agg.sketch(ev, "user", by=["domain"]), self.roll)
        with self.span("io.write_sketches"):
            io.write_sketches(agg.sketch_cube(ev, "user", dims=["lang", "bucket"]), self.cube)
        pages = gen.pages_df(spark, seed, self.N_BATCHES * self.BATCH_ROWS, self.N_BATCHES, self.BATCH_ROWS)
        with self.span("pages.gen"):
            pages.write.mode("overwrite").partitionBy("batch").parquet(self.path)

    def truth(self):
        self.t = gen.EventsTruth(self.ctx.seed, self.N_EVENTS)
        self.pages = gen.PagesTruth(self.ctx.seed, self.N_BATCHES * self.BATCH_ROWS)
        # the stored files, read straight from parquet: the reference every
        # answer is recomputed from with hllspark.core
        roll = pq.read_table(self.roll).to_pydict()
        self.blobs = dict(zip(roll["domain"], roll["sketch"]))
        self.n_sketches = len(self.blobs)
        self.domains = np.array(sorted(self.blobs))
        size = sum(f.stat().st_size for f in (self.ctx.work / "rollup").glob("*.parquet"))
        self.bytes_per_sketch = size / self.n_sketches
        # every finest (lang, bucket) cell of the stored cube against its exact count
        cube = pq.read_table(self.cube).to_pandas()
        cells = cube[cube["grouping_id"] == 0]
        ops = self.ctx.ops
        ops.attempted["cube_cells"] += 1
        if len(cells) != len(self.t.cells) or not all([
                ops.rel_err(HLL.from_bytes(sk).estimate(), self.t.cells[(lang, b)])
                for lang, b, sk in zip(cells["lang"], cells["bucket"], cells["sketch"])]):
            ops.failed["cube_cells"] += 1
            print("perfbench: stored cube cells are off", file=sys.stderr)

    # -- dashboard reads -------------------------------------------------------

    def _range(self, width: int):
        i = int(self.rng.integers(0, len(self.domains) - width))
        lo, hi = int(self.domains[i]), int(self.domains[i + width - 1])
        return lo, hi, self.domains[i:i + width]

    def _rollup(self):
        """The stored rollup, opened the way every dashboard query opens it."""
        with self.span("io.read_sketches"):
            return io.read_sketches(self.spark, self.roll)

    def _rollup_range(self, lo: int, hi: int):
        return self._rollup().where(F.col("domain").between(lo, hi))

    def serve(self, name: str):
        ops = self.ctx.ops
        if name in ("merge_auto", "merge_jvm_est", "merge_driver"):
            lo, hi, doms = self._range(int(self.rng.integers(200, 2000)))
            exact = self.t.range_count(lo, hi)
            ref = merge_blobs([self.blobs[d] for d in doms])
            if name == "merge_auto":
                def call():
                    sel = self._rollup_range(lo, hi)
                    with self.span("agg.merge_partials"):
                        return agg.merge_partials(sel.select("sketch")).collect()[0]["sketch"]
                return self.op(name, call, lambda b: bytes(b) == ref.to_bytes()
                               and ops.rel_err(HLL.from_bytes(bytes(b)).estimate(), exact))
            if name == "merge_jvm_est":
                def call():
                    sel = self._rollup_range(lo, hi)
                    with self.span("jvm_udaf.merge"):
                        return jvm_udaf.hll_merge_udaf(sel, finalize="estimate").collect()[0]["est"]
                return self.op(name, call, lambda e: _close(e, ref.estimate()) and ops.rel_err(e, exact))

            def call():
                sel = self._rollup_range(lo, hi)
                with self.span("agg.merge_driver"):
                    return agg.merge_partials_driver(sel)
            return self.op(name, call, lambda acc: acc[()].to_bytes() == ref.to_bytes()
                           and ops.rel_err(acc[()].estimate(), exact))
        if name in ("est_pandas", "est_jvm"):
            lo, hi, doms = self._range(int(self.rng.integers(5, 60)))

            def call():
                sel = self._rollup_range(lo, hi)
                if name == "est_pandas":
                    with self.span("functions.estimate"):
                        return sel.select("domain", functions.hll_estimate("sketch").alias("est")).collect()
                with self.span("jvm_udaf.read"):
                    return sel.select("domain", jvm_udaf.hll_estimate_col(self.spark, "sketch").alias("est")).collect()

            def check(r):
                return len(r) == len(doms) and all([
                    _close(x["est"], HLL.from_bytes(self.blobs[x["domain"]]).estimate())
                    and ops.rel_err(x["est"], self.t.range_count(x["domain"], x["domain"])) for x in r])
            return self.op(name, call, check)
        if name in ("union_pandas", "union_jvm"):
            lo, hi, doms = self._range(int(self.rng.integers(5, 60)))
            k = int(self.rng.integers(1, 50))

            def call():
                rs = self._rollup()
                pairs = rs.where(F.col("domain").between(lo, hi)).alias("a").join(
                    rs.alias("b"), F.col("b.domain") == F.col("a.domain") + k)
                if name == "union_pandas":
                    with self.span("functions.union_estimate"):
                        u = functions.hll_union_estimate(F.col("a.sketch"), F.col("b.sketch"))
                        return pairs.select(F.col("a.domain").alias("d"), u.alias("est")).collect()
                with self.span("jvm_udaf.setop"):
                    u = jvm_udaf.hll_union_estimate_col(self.spark, F.col("a.sketch"), F.col("b.sketch"))
                    return pairs.select(F.col("a.domain").alias("d"), u.alias("est")).collect()

            def check(r):
                want = [d for d in doms if d + k in self.blobs]
                return len(r) == len(want) and all([
                    _close(x["est"], union_estimate(HLL.from_bytes(self.blobs[x["d"]]), HLL.from_bytes(self.blobs[x["d"] + k])))
                    and ops.rel_err(x["est"], self.t.range_count(x["d"], x["d"]) + self.t.range_count(x["d"] + k, x["d"] + k))
                    for x in r])
            return self.op(name, call, check)
        raise ValueError(name)

    # -- stream writes -----------------------------------------------------------

    def _batch(self, i: int):
        return self.spark.read.parquet(f"{self.path}/batch={i}")

    def _live_deltas(self) -> int:
        root = Path(self.ss.state_dir)
        compacts = [int(p.name[2:]) for p in (root / "compact").glob("v=*") if (p / "_SUCCESS").exists()]
        cv = max(compacts, default=-1)
        return sum(1 for p in (root / "delta").glob("v=*") if (p / "_SUCCESS").exists() and int(p.name[2:]) > cv)

    def ingest(self):
        """The next micro-batch through the sink; after every READ_EVERY-th
        batch a state read checked against the exact per-lang counts so far."""
        i = self.fed
        compacting = (i + 1) % self.ss.compact_every == 0
        name = "batch_compact" if compacting else "batch"

        def call():
            with self.span("streaming.compact" if compacting else "streaming.delta"):
                self.ss(self._batch(i), i)
        self.op(name, call, lambda _: True)
        self.fed = i + 1
        self.compactions += compacting
        if self.fed % self.READ_EVERY == 0:
            self.live.append(self._live_deltas())
            exact = self.pages.by_lang(rows=self.fed * self.BATCH_ROWS)

            def read():
                with self.span("streaming.view"):
                    return self.ss.estimates(self.spark).collect()
            self.op("state_read", read, lambda r: len(r) == len(exact) and all(
                [self.ctx.ops.rel_err(x["est"], exact[x["lang"]]) for x in r]))

    # -- the loop ------------------------------------------------------------------

    def _new_stream(self, name: str):
        self.ss = streaming.SketchStream(str(self.ctx.work / name), "url", by=["lang"])
        self.fed, self.compactions, self.live = 0, 0, []

    def warm(self):
        self.rng = np.random.default_rng(self.ctx.seed)
        for name in self.SERVE_OPS:
            self.serve(name)
        # two micro-batches and a state read through a scratch stream warm the
        # Python builder; the timed stream then runs one whole compaction cycle
        self._new_stream("warm_state")
        for _ in range(self.READ_EVERY):
            self.ingest()
        self.ctx.ops.lat.clear()
        self._new_stream("state")

    def start_loop(self, rng):
        self.rng = rng
        self.order: list[str] = []
        self.since_batch = 0

    def step(self):
        # micro-batches stop once the compaction cycle is complete, so every
        # run ingests the same batches: seven deltas and one compaction
        if self.since_batch == self.SERVE_PER_BATCH and self.fed < self.ss.compact_every:
            self.since_batch = 0
            return self.ingest()
        self.since_batch += 1
        if not self.order:
            # shuffled rounds: every query type runs once per round
            self.order = list(self.rng.permutation(self.SERVE_OPS))
        self.serve(self.order.pop())

    def covered(self) -> bool:
        # the whole compaction cycle, the warm-up round plus three timed samples of every query
        return self.fed >= self.ss.compact_every and all(self.ctx.ops.attempted[q] >= 4 for q in self.SERVE_OPS)

    def _oneshot(self, where):
        df = self.spark.read.parquet(self.path).where(where)
        return {r["lang"]: bytes(r["sketch"]) for r in agg.sketch(df, "url", by=["lang"]).collect()}

    def finish(self):
        ops = self.ctx.ops
        # the stream's final state equals a one-shot sketch over the same rows
        state = {r["lang"]: bytes(r["sketch"]) for r in self.ss.state(self.spark).collect()}
        ops.attempted["stream_state_bytes"] += 1
        if state != self._oneshot(F.col("batch") < self.fed):
            ops.failed["stream_state_bytes"] += 1
            print("perfbench: stream state differs from the one-shot sketch", file=sys.stderr)
        # a checkpoint run stopped after half its epochs, resumed by a fresh instance
        ckdir = str(self.ctx.work / "ckpt")
        half = self.CKPT_EPOCHS // 2

        def checkpointed():
            return io.CheckpointedSketch(self.spark, self.path, "url", by=["lang"],
                                         checkpoint_dir=ckdir, n_epochs=self.CKPT_EPOCHS)

        def first_half():
            with self.span("io.ckpt_epochs"):
                return checkpointed().process_pending(limit=half)
        _, self.ckpt_half_s = self.op("ckpt_first_half", first_half, lambda ran: len(ran) == half)

        def resume():
            with self.span("io.ckpt_resume"):
                ck = checkpointed()
                self.skipped = len(ck.status()["done"])
                return {r["lang"]: bytes(r["sketch"]) for r in ck.run().collect()}
        everything = self._oneshot(F.lit(True))
        _, self.resume_s = self.op("ckpt_resume", resume, lambda res: res == everything)

    # -- reporting -----------------------------------------------------------------

    def e2e(self):
        return self.ingest_rows_per_s(), geomean_of_medians(self.ctx.ops.lat, self.SERVE_OPS)

    def ingest_rows_per_s(self) -> float:
        """Rows per second of a micro-batch at the median batch time.  The
        compacting batch is one of the eight, so compaction shows in the
        tail and in compact_batch_p50_s, not here."""
        return self.BATCH_ROWS / median(self.latencies("batch", "batch_compact"))

    def detail(self):
        serve = self.latencies(*self.SERVE_OPS)
        batches = self.latencies("batch", "batch_compact")
        reads = self.latencies("state_read")
        out = {"serve_p50_s": median(serve), "serve_queries": len(serve), "stored_sketches": self.n_sketches,
               "ingest_rows_per_s": self.ingest_rows_per_s(), "ingest_batch_p50_s": median(batches),
               "ingest_batches": len(batches), "compactions": self.compactions,
               "compact_batch_p50_s": median(self.latencies("batch_compact")),
               "state_read_p50_s": median(reads), "state_reads": len(reads), "ckpt_resume_s": self.resume_s}
        for prefix, values in (("serve", serve), ("ingest_batch", batches)):
            tail = tail_name(prefix, values)
            if tail:
                out[tail[0]] = tail[1]
        return out

    def layers(self):
        # phase-1 builder alone on a few batches: time and partial rows per group
        times, ratios = [], []
        for i in range(4):
            with self.span("agg.build_partials"):
                t0 = time.perf_counter()
                parts = agg.build_partials(self._batch(i), "url", by=["lang"], lineage=False).collect()
                times.append(time.perf_counter() - t0)
            ratios.append(len(parts) / len({p["lang"] for p in parts}))
        delta = self.layer_median("streaming.delta")
        return {
            "agg.build_partials_share": median(times) / delta if delta else 0.0,
            "jvm_udaf.merge_s": self.layer_median("jvm_udaf.merge"),
            "jvm_udaf.read_s": self.layer_median("jvm_udaf.read"),
            "jvm_udaf.setop_s": self.layer_median("jvm_udaf.setop"),
            "agg.merge_partials_s": self.layer_median("agg.merge_partials"),
            "agg.merge_driver_s": self.layer_median("agg.merge_driver"),
            "agg.build_partials_s": median(times),
            "agg.partials_per_group": median(ratios),
            "functions.estimate_s": self.layer_median("functions.estimate"),
            "functions.union_estimate_s": self.layer_median("functions.union_estimate"),
            "io.write_sketches_s": self.layer_median("io.write_sketches"),
            "io.read_sketches_s": self.layer_median("io.read_sketches"),
            "io.bytes_per_sketch": self.bytes_per_sketch,
            "io.ckpt_epoch_s": self.ckpt_half_s / (self.CKPT_EPOCHS // 2),
            "io.ckpt_resume_skipped_frac": self.skipped / self.CKPT_EPOCHS,
            "streaming.delta_s": delta,
            "streaming.compact_s": max(0.0, self.layer_median("streaming.compact") - delta),
            "streaming.compactions": float(self.compactions),
            "streaming.view_s": self.layer_median("streaming.view"),
            "streaming.live_deltas": float(np.mean(self.live)) if self.live else 0.0,
            "pages.rows": float(self.N_BATCHES * self.BATCH_ROWS),
            "state_read_p50_s": median(self.latencies("state_read")),
            "ckpt_resume_s": self.resume_s,
            **core_timings(self.ctx, list(self.blobs.values())[:20000]),
        }


WORKLOADS = {w.name: w for w in (ScanBuild, ServeIngest)}
