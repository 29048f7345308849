"""Benchmark entry point.

    python3 perfbench/run.py --workload churn --seed 42 --seconds 10 --trace 0

Prints a report line (every metric by its per-workload name, the input
fingerprint, run hygiene and host facts), then, as the last line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero when any operation failed or any output
differed from the oracle, and, without printing a result, when the engine
package is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 42
HELD_OUT_SEED = 9001

E2E_UNITS = {
    "setup_s": "s",
    "write_s": "s",
    "read_mean_ms": "ms",
    "bulk_s": "s",
    "index_bytes_per_text_byte": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="recorded in the report; a run's work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb-oracle", type=float, default=0.0,
                    help="add this to every oracle score; any value other "
                         "than 0 must make the run fail its gate")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "marc_solr_profiling_spark",
                                       "__init__.py")):
        print("perfbench: engine package marc_solr_profiling_spark not "
              f"found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.gate import Gate
    from perfbench.host import (
        RssSampler,
        Scratch,
        host_facts,
        start_spark,
        stop_spark,
    )
    from perfbench.layers import PER_LAYER, event_log_metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    scratch = Scratch()
    run = None
    crash = None
    hygiene = facts = {}
    try:
        with RssSampler() as rss:
            spark, hygiene = start_spark(scratch, event_log=traced)
            jvm_s = time.perf_counter() - t_start
            try:
                facts = host_facts(spark)
                tracer = Tracer(spark.sparkContext if traced else None)
                run = Run(spark, tracer, Gate(args.perturb_oracle), scratch,
                          args.seed, traced)
                WORKLOADS[args.workload](run, jvm_s)
            except Exception:
                crash = traceback.format_exc()
            finally:
                stop_spark(spark)
        if run is not None:
            run.named["peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MB"}
            if traced and crash is None:
                measure = next(s for s in run.tracer.spans
                               if s.name == "measure")
                run.layers.update(event_log_metrics(run, measure, scratch))
    except Exception:
        crash = traceback.format_exc()
    finally:
        scratch.close()

    if crash:
        print(crash, file=sys.stderr)
    wanted = PER_LAYER if traced else E2E_UNITS
    values = (run.layers if traced else run.e2e) if run else {}
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit in wanted.items()
               if values.get(name) is not None}
    gate = run.gate if run else Gate()
    attempted = (run.attempted if run else 0) + gate.checks
    failed = (run.failed_ops if run else 0) + gate.mismatches
    if crash or len(metrics) != len(wanted):
        failed += 1
        attempted += 1
    errors = (run.errors if run else []) + gate.failures
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seeds": {"default": DEFAULT_SEED, "held_out": HELD_OUT_SEED},
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": dict(run.named) if run else {},
        "end_to_end": dict(run.e2e) if run else {},
        "error_ratio": failed / max(1, attempted),
        "fingerprint": run.info.get("fingerprint") if run else None,
        "hygiene": hygiene,
        "host": facts,
        "info": {k: v for k, v in (run.info.items() if run else ())
                 if k != "fingerprint"},
        "errors": errors[:20],
    }
    if traced and run is not None:
        tr = run.tracer
        report["spans"] = [
            {"name": s.name, "wall_s": round(s.wall, 6),
             "self_s": round(tr.self_time(s.sid), 6), "jobs": len(s.jobs)}
            for s in tr.spans if s.name != "operators.resultcache.search"]
    print(json.dumps({"report": report}, default=str))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
