"""selma_spark benchmark: one workload, one seed, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Runs the workload's Spark job in its own process group on
``local[<nproc>]`` while sampling the RSS of that process tree from
/proc, then prints a summary line and, as the last line, the result
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything it writes stays under ``.perfbench/`` in the repository root.
Exits non-zero, printing no result, when the run fails or when the
repository's ``selma_spark`` package is not there to benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.procstat import PeakRss, family, kill_family  # noqa: E402

TIMEOUT_S = 170.0


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    spec = load_spec()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "selma_spark", "__init__.py")):
        print("perfbench: no selma_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cores = len(os.sched_getaffinity(0))
    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(out_root, f"trace-{a.workload}-{a.seed}.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM="2g",
        # no hsperfdata files in the system temp directory, from the
        # spark-submit launcher JVM or the driver JVM
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--work", work, "--out", result_path,
        "--trace-file", trace_path,
    ]
    log_path = os.path.join(out_root, f"worker-{a.workload}-{a.seed}-{a.trace}.log")
    try:
        with open(log_path, "w", encoding="utf-8") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                with PeakRss(proc.pid) as rss:
                    code = proc.wait(timeout=max(1.0, TIMEOUT_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                kill_family(proc.pid)
                proc.wait()
        if family(proc.pid):
            print("perfbench: worker processes did not exit", file=sys.stderr)
            return 1
        if code != 0 or not os.path.exists(result_path):
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: worker {why}; see {log_path}", file=sys.stderr)
            return 1
        with open(result_path, encoding="utf-8") as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = dict(res["metrics"] or {})
    if not a.trace:
        metrics["peak_rss_mb"] = rss.peak / 1e6
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: run produced no value for {missing}", file=sys.stderr)
        return 1
    attempted, failed = res["attempted"], res["failed"]
    checked, wrong = res["checked_rows"], res["wrong_rows"]
    summary = {
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "master": f"local[{cores}]", "trace": a.trace,
        "docs": res["docs"], "input_mb": res["input_mb"],
        "run_s": res["run_s"], "wall_run_s": res["wall_run_s"],
        "calibration_s": res["calibration_s"],
        "wrong_frac": wrong / checked if checked else 1.0,
        "failed_frac": failed / attempted if attempted else 1.0,
        "checked_rows": checked,
        **{k: res[k] for k in ("setup", "traced_run_s") if k in res},
    }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": checked > 0 and wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
