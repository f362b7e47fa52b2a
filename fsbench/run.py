"""Feature-store benchmark runner.

    python3 fsbench/run.py --workload serving_mix --seed 1 --seconds 30 --trace 0

Runs one workload on one ``local[nproc]`` session, checks every result,
and prints a report line and then, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, measured on
alternating traced and untraced operations, with the spans written as JSON
lines under ``fsbench/_traces/``. Everything the run writes stays under
``fsbench/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = os.path.join(ROOT, "BENCHMARK.json")
DRIVER_MEMORY = "2g"


def make_session(work: str):
    from feature_store_fraud_detection_spark.session import get_spark

    spark = get_spark(
        app_name="fsbench",
        master=f"local[{os.cpu_count()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # a fixed heap: no resizing pauses that differ from run to run
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp",
            # partitions sized to the benchmark's small inputs, as the tests do
            "spark.sql.shuffle.partitions": str(os.cpu_count()),
            # one micro-batch per stream_batch operation: no extra batch
            # just to advance the watermark
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(BENCH) as f:
        spec = json.load(f)
    workloads = {w["name"] for w in spec["workloads"]}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads)}")

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import feature_store_fraud_detection_spark  # noqa: F401
    except ImportError as e:
        print(f"fsbench: the feature-store package is not importable: {e}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = f"{work}/tmp"

    import host
    import rules
    import trace
    from registry import RegistryMix
    from serving import ServingMix

    kinds = {"serving_mix": ServingMix, "registry_mix": RegistryMix}
    tracer = trace.Tracer() if args.trace else None
    spark = make_session(work)
    t_session = time.perf_counter() - T_START
    wl = None
    try:
        jvm = host.JvmCounters(spark)
        wl = kinds[args.workload](spark, args.seed, work, tracer, jvm)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        window = host.Window(jvm)
        ledger = wl.run_window(args.seconds)
        win = window.close()
        t_check = time.perf_counter()
        problems = wl.check(ledger)
        check_s = time.perf_counter() - t_check
        record = host.host_record(spark)
        layers = wl.layer_metrics() if args.trace else {}
    finally:
        if wl is not None and hasattr(wl, "stop"):
            wl.stop()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    attempted, failed = rules.fail_counts(ledger.ops)
    counted = ledger.counted()
    plain = [o for o in counted if not o.traced]
    med = rules.per_kind_medians(plain)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "whole_rounds": len(ledger.whole_rounds()),
        "ops_in_window": len(ledger.ops),
        "problems": problems,
        "setup_s": setup_s,
        "session_s": t_session,
        "check_s": check_s,
        "setup_phases_s": {k: round(v - T_START, 2) for k, v in getattr(wl, "phases", {}).items()},
        "window": {"steal_s": win["steal_s"], "jit_compile_ms": win["jit_ms"],
                   "gc_ms": win["gc_ms"], "cpu_s": win["cpu_s"]},
        "host": record,
        "stationarity": wl.stationarity(),
        # the unweighted rate the client saw over whole rounds, checks excluded
        "round_ops_per_s": len(plain) / (sum(o.ms for o in plain) / 1000.0),
        "tails_ms": {k: rules.tail([o.ms for o in plain if o.kind == k]) for k in med},
        "samples_ms": {k: [round(o.ms, 1) for o in plain if o.kind == k] for k in med},
        **wl.report(ledger),
    }
    if args.trace:
        traced = rules.per_kind_medians([o for o in counted if o.traced])
        ratios = {k: traced[k] / med[k] for k in traced if k in med}
        metrics = {
            **layers,
            "jvm.jit_compile_ms": win["jit_ms"],
            "jvm.gc_ms": win["gc_ms"],
            "driver.cpu_s_per_op": win["cpu_s"] / max(1, len(ledger.ops)),
            "host.steal_s": win["steal_s"],
            "trace.overhead_ratio": rules.weighted_geomean(ratios, wl.shares),
        }
        os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
        spans = os.path.join(HERE, "_traces", f"{args.workload}-{args.seed}.jsonl")
        tracer.write(spans)
        report["spans"] = os.path.relpath(spans, ROOT)
        report["trace_overhead_by_kind"] = ratios
        wanted = spec["per_layer"]
    else:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": rules.ops_per_s(ledger, wl.shares),
            "op_p50_ms": rules.weighted_geomean(med, wl.shares),
        }
        wanted = spec["end_to_end"]
    print(json.dumps({"report": report}, default=str))
    # a layer the workload never calls reads 0; any other missing metric is
    # an error of the benchmark
    missing = [m["name"] for m in wanted
               if m["name"] not in metrics and m["name"] not in wl.untouched]
    if missing:
        raise KeyError(f"{args.workload} did not measure {missing}")
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
