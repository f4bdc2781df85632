"""Benchmark entry point.

    python3 perfbench/run.py --workload scan_build --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop with one client for ``--seconds``, checks
every output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` records spans, enables
the Spark event log and reports the per-layer metrics instead.  The line
before it holds the workload's own figures (sample counts, named tails).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class Context:
    def __init__(self, args, work: Path):
        from perfbench.harness import Ops, Session, Spans

        self.seed = args.seed
        self.work = work
        self.run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
        self.spans = Spans(self.run_id, enabled=bool(args.trace))
        self.ops = Ops()
        self.session = Session(work, trace=bool(args.trace))


def _phase(t_start: float, name: str) -> None:
    print(f"perfbench: {name} at {time.perf_counter() - t_start:.1f}s", file=sys.stderr, flush=True)


def run(args) -> dict:
    import numpy as np

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = HERE / "_work" / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t_start = time.perf_counter()
    ctx = Context(args, work)
    wl = WORKLOADS[args.workload](ctx)
    try:
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            with ctx.spans.span("session.start"):
                ctx.session.start()
            session_s = time.perf_counter() - t0
            if ctx.spans.enabled:
                ctx.spans.sc = ctx.session.spark.sparkContext
            t0 = time.perf_counter()
            wl.prepare()
            prep_s = time.perf_counter() - t0
            wl.truth()
            _phase(t_start, "inputs ready")
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            # wall time until the loop can start: a cold JVM, cold inputs and
            # the first (JIT-compiling) round of every operation
            setup_s = session_s + prep_s + warm_s

            _phase(t_start, "warm-up done")
            wl.start_loop(np.random.default_rng(args.seed))
            t_end = time.perf_counter() + args.seconds
            # the loop runs for --seconds, and on until every operation type
            # has its samples, so no per-type median is ever missing
            while time.perf_counter() < t_end or not wl.covered():
                wl.step()
            _phase(t_start, "loop done")
            wl.finish()
            _phase(t_start, "finish done")
            rows_per_s, query_s = wl.e2e()
            detail = wl.detail() | {"session_s": session_s, "prep_s": prep_s, "warm_s": warm_s}
            layers = wl.layers() if ctx.spans.enabled else {}
            ctx.session.stop_context()
        ops = ctx.ops
        e2e = {"setup_s": setup_s, "rows_per_s": rows_per_s, "query_s": query_s, "peak_rss_mb": rss.peak_mb}
        checks = {"ops_failed_frac": ops.total_failed / max(1, ops.total_attempted), "max_rel_err": ops.max_rel_err,
                  "estimates_beyond_3sigma": ops.beyond_3sigma}
        print(json.dumps({"workload": args.workload, "seed": args.seed, **detail, **checks,
                          "ops": {k: [ops.attempted[k], ops.failed[k]] for k in ops.attempted}}))
        if ctx.spans.enabled:
            per_span = harness.parse_event_logs(ctx.session.event_dir)
            roots = {r["name"] for r in ctx.spans.done() if r["name"].startswith("op.")}
            layers |= harness.spark_layer_metrics(ctx.spans, per_span, roots)
            layers |= {
                "session.start_s": session_s,
                "session.udaf_loaded": 1.0,
                "pages.gen_s": harness.median(ctx.spans.durations("pages.gen")),
                **checks,
                "traced.setup_s": setup_s, "traced.rows_per_s": rows_per_s, "traced.query_s": query_s,
                "trace.spans": float(len(ctx.spans.records)),
            }
            ctx.spans.write(HERE / "_work" / f"spans-{args.workload}.jsonl")
            names, units = [m["name"] for m in spec["per_layer"]], {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in names}
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {n: {"value": float(e2e[n]), "unit": units[n]} for n in units}
        return {"correct": ops.total_failed == 0 and ops.max_rel_err <= harness.REL_BOUND,
                "attempted": ops.total_attempted, "failed": ops.total_failed, "metrics": metrics}
    finally:
        ctx.session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        _phase(t_start, "shut down")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["scan_build", "serve_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("hllspark/__init__.py", "tools/build_jar.py", "tools/make_pyfiles.py", "jvm/src", "BENCHMARK.json")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a complete hllspark checkout (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
