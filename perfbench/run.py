"""glue-spark benchmark: one seeded, closed-loop, single-client workload
per invocation, on ``local[<all cores>]``.

    python3 perfbench/run.py --workload glue_metadata --seed 1 --seconds 8 --trace 0

Run from the repository root.  Everything the run writes (inputs, the
Spark scratch dirs, JVM temp files, the span dump) goes under
``.perfbench/`` in that root; the input files are removed at the end.

stdout ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones;
``--trace 1`` wraps the engine's public functions in timing spans and
reports the per-layer metrics instead.  The line before it is the full
report: every end-to-end metric of the workload with unit and sample
count (``null`` where the workload has no operation of that kind),
workload-specific metrics, per-layer self times, host steal and load.
See perfbench/README.md for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import importlib
import json
import logging
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("glue_sql", "glue_metadata", "lakehouse_rw", "llm_pipeline")
PACKAGE = "datafusion_catalogprovider_glue_spark"
SETUP_REPEATS = 3
HEAP = "1g"
# per-layer counts of layers a workload may not touch: 0 is the count
# (the cache hit ratio is 0 when there were no lookups)
COUNTS_ZERO_WHEN_UNUSED = [
    "catalog.glue_calls", "catalog.glue_calls.GetDatabases",
    "catalog.glue_calls.GetTables", "catalog.glue_calls.GetTable",
    "catalog.glue_calls.GetPartitions", "catalog.partitions_registered",
    "operators.index_cache_lookups", "operators.index_cache_hit_ratio",
] + [f"sources.{fmt}.{m}" for fmt in ("delta", "iceberg", "hudi")
     for m in ("files_written", "bytes_written", "metadata_files",
               "data_files_live")]

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}
# reported by every workload; null where it has no such operation
WORKLOAD_METRIC_UNITS = {
    "ops_failed_frac": "fraction",
    "register_p50_s": "s",
    "commit_p50_s": "s",
    "read_p50_s": "s",
    "bytes_written_per_user_byte": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="run length: whole rounds of the workload's "
                        "nominal round length")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(root: str, tag: str) -> str:
    """Point every scratch path at ``<root>/.perfbench/<tag>`` and pin the
    session shape.  Must run before pyspark is imported."""
    work = os.path.join(root, ".perfbench", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # a fixed, pre-touched 1 GiB heap: peak_rss_mb then moves with the
    # Python processes and off-heap memory, not with when the JVM
    # happens to grow its heap
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                 f"-XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # the status store keeps every stage of a run for the counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    args = [x for k, v in conf.items() for x in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)
    return work


def start_session(app_name: str):
    """The engine's own session factory, timed.  Returns (spark, s)."""
    from common import now

    t0 = now()
    from datafusion_catalogprovider_glue_spark.session import get_spark

    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    # lazy Glue resolution catches TABLE_OR_VIEW_NOT_FOUND by design;
    # keep pyspark from logging each caught analysis error
    logging.getLogger("SQLQueryContextLogger").setLevel(logging.CRITICAL)
    return spark, now() - t0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from common import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline and descendants(os.getpid()):
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline and descendants(os.getpid()):
        time.sleep(0.1)


def _num(x):
    """JSON-safe number: +inf (a failed operation's latency) -> None."""
    return None if x is None or x == float("inf") else x


def run_workload(spark, session_start_s: float, name: str, seed: int,
                 seconds: float, trace: bool, scale: float, work: str) -> dict:
    """Set up, warm up, measure and check one workload in a live
    session.  The result's ``_wl``/``_state``/``_records`` entries let
    the self-test re-run the check on edited outputs."""
    from common import (
        HostProbe, RssSampler, SparkCounters, Tracer, closed_loop, median,
        now, quantile, slot_median_rate,
    )

    wl = importlib.import_module(f"wl_{name}")
    tracer = Tracer(enabled=trace)
    host_run = HostProbe()
    with RssSampler() as rss:
        # input generation is repeated (median reported); the engine-side
        # set-up and the warm-up run once on the last copy
        prep_s = []
        for rep in range(SETUP_REPEATS):
            t0 = now()
            inputs = wl.prepare(seed, scale, os.path.join(work, f"rep{rep}"))
            prep_s.append(now() - t0)
        t0 = now()
        state = wl.setup(spark, seed, scale, inputs)
        engine_setup_s = now() - t0
        t0 = now()
        wl.warmup(spark, state)
        warm_s = now() - t0
        wl.install_tracing(tracer, state)
        counters = SparkCounters(spark)
        counters.mark()
        host = HostProbe()
        wl.before_loop(spark, state)
        between = getattr(wl, "between", None)
        # --seconds sizes the run: whole rounds of the workload's nominal
        # length on 4 cores, so every run does the same work; a workload
        # whose throughput is a median over rounds asks for MIN_ROUNDS
        rounds = max(getattr(wl, "MIN_ROUNDS", 1), round(seconds / wl.ROUND_S))
        records, wall_s = closed_loop(
            wl.ops(spark, state), rounds, tracer,
            between=(lambda _op: between(state)) if between else None,
        )
        host_report = host.report()
        spark_delta = counters.delta()
        extra = wl.after_loop(spark, state, records, tracer)
    problems = wl.check(spark, state, records)

    failed = [r for r in records if r.error is not None]
    latencies = [r.latency_s for r in records]
    setup_s = session_start_s + median(prep_s) + engine_setup_s + warm_s
    end_to_end = {
        "setup_s": setup_s,
        "ops_per_s": slot_median_rate(records),
        "latency_p50_s": _num(quantile(latencies, 0.5)),
        "latency_p90_s": _num(quantile(latencies, 0.9)),
        "peak_rss_mb": rss.peak / 2**20,
    }

    def kind_p50(group: str) -> dict:
        """Median of the call times a workload recorded for ``group``."""
        xs = extra.get(f"{group}_s", [])
        return {"value": _num(median(xs)), "n": len(xs)}

    workload_metrics = {
        "ops_failed_frac": {"value": len(failed) / len(records) if records else None,
                            "n": len(records)},
        "register_p50_s": kind_p50("register"),
        "commit_p50_s": kind_p50("commit"),
        "read_p50_s": kind_p50("read"),
        "bytes_written_per_user_byte": {
            "value": extra.get("bytes_written_per_user_byte"),
            "n": extra.get("bytes_written_n", 0),
        },
    }
    per_layer = dict.fromkeys(COUNTS_ZERO_WHEN_UNUSED, 0)
    per_layer.update(spark_delta)
    per_layer.update(extra.get("per_layer", {}))
    per_layer["session.start_s"] = session_start_s
    # steal over the whole run (set-up included); the timed window's
    # share is in the report's "host" block
    per_layer["host.cpu_steal_s"] = host_run.report()["cpu_steal_s"]
    if trace:
        per_layer.update(wl.layer_metrics(tracer, state, records))
        per_layer["trace.ops_per_s"] = end_to_end["ops_per_s"]
        per_layer["trace.spans"] = len(tracer.spans)
        per_layer["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "attempted": len(records),
        "failed": len(failed),
        "failures": [{"op": r.op_id, "kind": r.kind, "error": r.error}
                     for r in failed][:20],
        "ops": [[r.kind, _num(r.latency_s), round(r.steal_share, 4)]
                for r in records],
        "check_problems": problems[:20],
        "correct": not problems and len(records) > 0,
        "samples": len(records),
        "wall_s": wall_s,
        "setup": {"session_start_s": session_start_s, "prepare_s": prep_s,
                  "engine_setup_s": engine_setup_s, "warmup_s": warm_s},
        "end_to_end": end_to_end,
        "workload_metrics": workload_metrics,
        "per_layer": per_layer,
        "self_time_s": tracer.self_times() if trace else None,
        "host": host_report,
        "spans": tracer.spans if trace else None,
        "_wl": wl,
        "_state": state,
        "_records": records,
    }


def result_line(result: dict, bench: dict) -> dict:
    """The contract's last line: every end-to-end metric (trace 0) or
    every per-layer metric (trace 1) named in BENCHMARK.json."""
    if result["trace"]:
        metrics = {
            m["name"]: {"value": result["per_layer"].get(m["name"]), "unit": m["unit"]}
            for m in bench["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": result["end_to_end"].get(m["name"]), "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def report(result: dict) -> dict:
    """Human-facing report: every metric with its unit and sample count."""
    n = result["samples"]
    e2e = {k: {"value": v, "unit": END_TO_END_UNITS[k],
               "n": SETUP_REPEATS if k == "setup_s" else n}
           for k, v in result["end_to_end"].items()}
    for k, v in result["workload_metrics"].items():
        e2e[k] = {**v, "unit": WORKLOAD_METRIC_UNITS[k]}
    out = {k: v for k, v in result.items() if not k.startswith("_")
           and k not in ("end_to_end", "workload_metrics", "spans")}
    out["end_to_end"] = e2e
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    bench_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    with open(bench_path) as fh:
        bench = json.load(fh)
    tag = f"{args.workload}-{os.getpid()}"
    work = prepare_environment(root, tag)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    spark, session_start_s = start_session(f"perfbench-{args.workload}")
    try:
        result = run_workload(
            spark, session_start_s, args.workload, args.seed, args.seconds,
            bool(args.trace), 1.0, os.path.join(work, "inputs"),
        )
    finally:
        stop_spark(spark)
    out_dir = os.path.join(root, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(report(result), fh, indent=1, default=str)
    if result["spans"] is not None:
        with open(os.path.join(out_dir, stem + ".spans.json"), "w") as fh:
            json.dump(result["spans"], fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(result), default=str))
    print(json.dumps(result_line(result, bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
