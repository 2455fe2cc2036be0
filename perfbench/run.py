"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

Runs one workload in this process against a fresh local Spark session with
one task slot per core, checks every answer against an oracle, and prints
one JSON result as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, read from Spark's status store around each call. The exit code is 0
only when every answer check passed.

Inputs are generated from ``--seed`` and cached under ``.perfbench/cache``
at the root of the checkout; each run's indexes and temporary files live
under ``.perfbench/run-*`` and are removed when the run ends.
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
sys.path.insert(0, ROOT)

import harness  # noqa: E402

N_DOCS = 4000  # one corpus size for every workload


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that PySpark launched, and with it the Python workers it
    forked, and wait for both: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    started = harness.descendants()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(map(harness.alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    # imported here so that a checkout without the program fails before
    # printing anything that could be read as a result
    import gen
    import workloads
    from searchengine_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench")
    heap_mb = harness.driver_heap_mb(harness.meminfo_kb())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    run = harness.RunRoot(base)
    cores = os.cpu_count() or 1
    try:
        wl = workloads.WORKLOADS[args.workload](
            seed=args.seed,
            n_docs=N_DOCS,
            cache_dir=os.path.join(base, "cache", f"v{gen.VERSION}-seed{args.seed}-n{N_DOCS}"),
            run=run,
        )
        t_start = time.perf_counter()
        wl.prepare()  # input generation and expected answers: untimed
        phases = {"prepare": time.perf_counter() - t_start}

        rss = harness.RssSampler().start()
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{cores}]", app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        try:
            from sparktrace import Tracer

            tracer = Tracer(spark, enabled=bool(args.trace), run_id=f"r{os.getpid()}")
            wl.bind(spark, tracer)
            t1 = time.perf_counter()
            wl.setup()
            setup_s = session_s + (time.perf_counter() - t1)
            t2 = time.perf_counter()
            wl.measure(args.seconds)
            t3 = time.perf_counter()
            wl.check()
            t4 = time.perf_counter()
            if args.trace:
                wl.trace_extra(cores)
            phases.update(setup=setup_s, measure=t3 - t2, check=t4 - t3, trace_extra=time.perf_counter() - t4)
        finally:
            (wl.spark or spark).stop()
            peaks = rss.stop()
            stop_jvm()

        info = {
            "host": harness.host_shape(ROOT, args.seed, heap_mb),
            "workload": args.workload,
            "n_docs": N_DOCS,
            "local_cores": cores,
            "phases_s": phases,
            **wl.info(),
        }
        if args.trace:
            metrics = wl.per_layer(session_s, peaks)
            trace_path = os.path.join(base, f"trace-{args.workload}-seed{args.seed}.jsonl")
            tracer.write(trace_path)
            info["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = wl.end_to_end(setup_s, peaks)
        for name in metrics:
            if not harness.METRIC_NAME.fullmatch(name):
                raise ValueError(f"bad metric name {name!r}")
        print("info " + json.dumps(info, default=str))
        attempted, failed = wl.attempted, wl.failed
        for why in wl.failures[:20]:
            print("check failed: " + why)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {
                        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    },
                }
            )
        )
        return 0 if failed == 0 else 1
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        run.remove()


if __name__ == "__main__":
    sys.exit(main())
