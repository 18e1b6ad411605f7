"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the seed
under ``.perfbench/<pid>/``, starts one Spark session, sets the workload up
``SETUP_REPEATS`` times in it, measures (a catalog run is one entry pass
and one lifecycle pass; the stream's fixed-rate phase lasts ``--seconds``),
checks every output, and prints one JSON result as the last line of
standard output. The line before it (``# {...}``) carries the workload's own figures under their long names,
the sample counts behind each percentile, and every failure by name.

``--trace 1`` records spans around each layer call and enables the Spark
event log; the result then carries the per-layer metrics of BENCHMARK.json
and the spans land in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    CPUS,
    PACKAGE,
    ROOT,
    Tracer,
    event_log_summary,
    median,
    new_session,
    peak_rss_mb,
    prepare_env,
    stop_jvm,
)

# set-up = the session start (JVM, SparkContext, Python worker pool; once)
# plus the median of this many workload set-ups in that session
SETUP_REPEATS = 3


def workload_class(name: str):
    if name == "catalog":
        from perfbench.catalog import Catalog

        return Catalog
    if name == "stream-features":
        from perfbench.stream import StreamFeatures

        return StreamFeatures
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cls = workload_class(args.workload)
    work = os.path.join(ROOT, ".perfbench", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    tracer = Tracer(bool(args.trace))
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    wl = spark = None
    try:
        t0 = time.perf_counter()
        spark = new_session(work, event_dir)
        session_s = time.perf_counter() - t0
        setups = []
        for rep in range(SETUP_REPEATS):
            if wl is not None:
                wl.close()
            t0 = time.perf_counter()
            wl = cls(spark, tracer, args.seed, os.path.join(work, f"input{rep}"))
            setups.append(time.perf_counter() - t0)

        tracer.spans.clear()  # spans of the measured region only
        window = [time.time()]
        t0 = time.perf_counter()
        wl.run(args.seconds)
        measured_s = time.perf_counter() - t0
        window.append(time.time())
        t0 = time.perf_counter()
        attempted, failures = wl.check()
        check_s = time.perf_counter() - t0
        report = wl.report()
        layers = wl.layer_metrics() if args.trace else {}
        wl_windows = getattr(wl, "windows", {})
        rss = peak_rss_mb(spark)
        wl.close()
        wl = None
        spark.stop()
        spark = None

        e2e = {"setup_s": session_s + median(setups), "pass_s": report[cls.PASS]}
        info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "setup_s": e2e["setup_s"], "session_s": session_s, "workload_setup_s": setups,
                "measured_s": measured_s, "check_s": check_s, "peak_rss_mb": rss,
                "failed_ops_ratio": len(failures) / attempted, "failures": failures, **report}
        if args.trace:
            counters, by_desc = event_log_summary(event_dir, tuple(window), CPUS)
            layers.update(counters)
            # the same counters over each part of a workload's measured region
            for part, span in wl_windows.items():
                part_counters, _ = event_log_summary(event_dir, span, CPUS)
                layers.update({f"{part}.{k}": v for k, v in part_counters.items()})
            layers["traced.pass_s"] = e2e["pass_s"]
            tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                      f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"),
                         {"info": info, "layers": layers, "spark_by_job_description": by_desc})
            wanted = spec["per_layer"]
            values = layers
        else:
            wanted = spec["end_to_end"]
            values = e2e
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
        print("# " + json.dumps(info))
        print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                          "metrics": metrics}))
        return 0
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
