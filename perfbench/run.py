"""Repository benchmark: one command, two workloads, end-to-end
metrics untraced and per-layer metrics traced.

    python3 perfbench/run.py --workload code_serving --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --smoke          # every workload, tiny

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it records provenance. ``bench.py``
stays unmodified as the engine's contract benchmark; this benchmark
only calls the engine's public functions. BENCHMARK.json documents the
workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

T_PROC0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("code_serving", "headline")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=3)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny tree, one warm pass: a quick end-to-end check")
    a = p.parse_args(argv)
    if a.workload == "all" and not a.smoke:
        p.error("--workload all needs --smoke")
    return a


def _check_checkout() -> None:
    """Refuse to run without the engine beside the benchmark."""
    missing = [f for f in ("codegraph_spark/__init__.py", "bench.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(common.ROOT, f))]
    if missing:
        sys.exit(f"perfbench: not a repository checkout, missing {missing}")


def main(argv=None) -> int:
    args = _args(argv)
    _check_checkout()
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, common.ROOT)
    run_dir = common.new_run_dir()
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    pinned = common.pin_environment(run_dir, event_log)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    steal0, total0 = common.cpu_times()
    results = []
    spark = None
    try:
        spark = common.start_spark()
        for i, name in enumerate(names):
            t0 = T_PROC0 if i == 0 else time.perf_counter()
            work = os.path.join(run_dir, name)
            os.makedirs(work)
            if name == "code_serving":
                import code_serving

                res = code_serving.run(spark, args, work, t0, bool(args.trace), args.smoke)
            else:
                import headline

                res = headline.run(spark, args, t0, bool(args.trace), args.smoke)
            if args.trace:
                import layers

                res["layer_metrics"] = layers.collect_layers(spark, name, res, work)
            results.append((name, res))
        app_id = spark.sparkContext.applicationId
        common.stop_spark(spark)
        spark = None
        if args.trace:
            import layers

            for name, res in results:
                layers.add_event_log(res, event_log, app_id, name)
        steal1, total1 = common.cpu_times()
        prov = {**pinned, **common.code_provenance(), "seed": args.seed, "sf": common.SF,
                "seconds": args.seconds, "trace": args.trace,
                "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0)}
        for name, res in results:
            for f in res["failures"]:
                print(f"perfbench: {name}: FAILED {f}", file=sys.stderr)
            metrics = res["layer_metrics"] if args.trace else res["metrics"]
            line = {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
            print(json.dumps({"workload": name, "provenance": {**prov, **res.get("provenance", {})}}))
            print(json.dumps(line))
        return 0 if all(r["failed"] == 0 for _, r in results) or not args.smoke else 1
    finally:
        try:
            if spark is not None:
                common.stop_spark(spark)
        finally:
            common.remove_run_dir(run_dir)


if __name__ == "__main__":
    sys.exit(main())
