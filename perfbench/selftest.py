"""Fast self-test of the benchmark at sf0.001 (``--scale 0.01``), all
workloads in one Spark session:

1. every end-to-end metric is reported with its unit, and every
   per-layer metric of BENCHMARK.json is emitted by the traced run;
2. each workload's output check rejects a deliberately corrupted result;
3. the same seed writes byte-identical inputs;
4. a different seed writes different inputs.

    python3 perfbench/selftest.py          # from the repository root

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SCALE = 0.01
SECONDS = 2.0


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def check_inputs(name: str, work: str) -> None:
    wl = importlib.import_module(f"wl_{name}")

    def make(seed: int, tag: str) -> dict[str, bytes]:
        out = os.path.join(work, f"inputs-{name}-{tag}")
        wl.prepare(seed, SCALE, out)
        if hasattr(wl, "write_stream"):
            wl.write_stream(seed, SCALE, os.path.join(out, "stream"))
        return _files(out)

    a, b, c = make(1, "a"), make(1, "b"), make(2, "c")
    assert a and a == b, f"{name}: same seed gave different input bytes"
    assert a != c, f"{name}: different seeds gave identical inputs"


def check_run(spark, session_start_s: float, name: str, bench: dict,
              work: str) -> None:
    result = run.run_workload(spark, session_start_s, name, 1, SECONDS, True,
                              SCALE, os.path.join(work, f"run-{name}"))
    assert result["correct"], (name, result["check_problems"], result["failures"])
    rep = run.report(result)
    for metric, unit in {**run.END_TO_END_UNITS, **run.WORKLOAD_METRIC_UNITS}.items():
        m = rep["end_to_end"][metric]
        assert m["unit"] == unit and "n" in m, (name, metric, m)
    for trace in (0, 1):
        line = run.result_line({**result, "trace": trace}, bench)
        json.dumps(line, allow_nan=False)
        names = bench["per_layer"] if trace else bench["end_to_end"]
        for m in names:
            got = line["metrics"][m["name"]]
            assert isinstance(got["value"], (int, float)), (name, m["name"], got)
            assert got["unit"] == m["unit"], (name, m["name"], got)
    wl, state, records = result["_wl"], result["_state"], result["_records"]
    wl.corrupt(records)
    assert wl.check(spark, state, records), f"{name}: corrupted output accepted"


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    work = run.prepare_environment(root, f"selftest-{os.getpid()}")
    sys.path.insert(0, root)
    spark, session_start_s = run.start_session("perfbench-selftest")
    try:
        for name in run.WORKLOADS:
            check_inputs(name, work)
            check_run(spark, session_start_s, name, bench, work)
            print(f"selftest {name}: ok", flush=True)
    finally:
        run.stop_spark(spark)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    print("selftest: all workloads ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
