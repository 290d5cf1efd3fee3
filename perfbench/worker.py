"""One benchmark run inside its own process (spawned by ``run.py``).

Untraced (``--trace 0``): start the session, build the inputs
``SETUPS`` times, warm up with two full runs, then run the workload's job
in a closed loop -- one job at a time, the next one submitted when the
previous result is complete and checked -- for ``--seconds``.
``setup_s`` is session start + median build + warm-up. The host-speed
calibration of ``calibrate.py`` runs before the session starts, after
each build, after the warm-up and between consecutive runs; every timed
end-to-end metric is in reference seconds (see ``calibrate.py``), the
raw wall times go to the summary. Writes a JSON result file for
``run.py``.

Traced (``--trace 1``): one set-up with the span recorder and the Spark
event log on, the layer ledger, the same loop traced, the loop again
with tracing off (for the overhead), then the flagship 1-core leg.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from .calibrate import REF_CAL_S, Calibrator
from .ledger import Ledger, python_rows, span_input_ratios, text_frame
from .tracing import EventLog, Recorder, uncovered_s
from .workloads import WORKLOADS, Flagship

SETUPS = 3
HEAP = "2g"
MIN_RUNS = 3
MAX_FAILED = 3


def start_session(cores: int, work: str, event_log: str | None = None):
    from selma_spark.spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # 2 MB splits keep one input file per scan task, so the number
        # of files a workload writes sets its task count (default splits
        # would pack the small tables into one task per core)
        "spark.sql.files.maxPartitionBytes": "2m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # fixed, pre-touched heap: the JVM's share of peak RSS is then
        # the same on every run instead of following G1's growth
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(cpus=cores, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def quartiles(xs: list[float]) -> dict:
    if len(xs) >= 2:
        q1, med, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = med = q3 = xs[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs)}


class Loop:
    """Closed-loop runs of one workload and what they produced. The
    host-speed calibration runs before the first run and after every
    run."""

    def __init__(self, cal: Calibrator):
        self.cal = cal
        self.times: list[float] = []
        self.cals: list[float] = []
        self._before: list[int] = []  # index in cals of the one before each run
        self.spans: list[dict] = []
        self.checked = 0
        self.wrong = 0
        self.failed = 0
        self.attempted = 0

    def measure(self, wl, spark, seconds: float, rec=None) -> "Loop":
        deadline = time.monotonic() + seconds
        i = 0
        self.cals.append(self.cal.measure())
        while (time.monotonic() < deadline or len(self.times) < MIN_RUNS) \
                and self.failed < MAX_FAILED:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                if rec is None:
                    result = wl.run(spark, i)
                else:
                    with rec.span(f"{wl.name}.run") as sp:
                        result = wl.run(spark, i, rec)
                    self.spans.append(sp)
                dt = time.perf_counter() - t0
                checked, wrong = wl.check(result)
            except Exception:  # one failed run is counted, not fatal
                traceback.print_exc()
                self.failed += 1
            else:
                self.times.append(dt)
                self._before.append(len(self.cals) - 1)
                self.checked += checked
                self.wrong += wrong
            self.cals.append(self.cal.measure())
            wl.after_run(i)
            i += 1
        return self

    @property
    def ref_times(self) -> list[float]:
        """Each run's wall time in reference seconds, scaled by the mean of
        the three calibrations before and the three after it: one
        calibration reads within ~10% of the host's speed, and the
        window, a few seconds wide, still follows the host's drift."""
        return [
            dt * REF_CAL_S / statistics.fmean(self.cals[max(0, b - 2):b + 4])
            for dt, b in zip(self.times, self._before)
        ]

    def median(self) -> float:
        """Median run in reference seconds."""
        return statistics.median(self.ref_times)


def untraced(wl, cores, seconds, work, cal) -> dict:
    cals = [cal.measure()]
    t0 = time.perf_counter()
    spark = start_session(cores, work)
    session_s = time.perf_counter() - t0
    builds = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        wl.build(spark)
        builds.append(time.perf_counter() - t0)
        cals.append(cal.measure())
    wl.expect()
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warm_s = time.perf_counter() - t0
    cals.append(cal.measure())
    setup_wall = session_s + statistics.median(builds) + warm_s
    loop = Loop(cal).measure(wl, spark, seconds)
    spark.stop()
    run_s = loop.median() if loop.times else None
    return {
        "loop": loop,
        "setup": {"session_s": session_s, "builds_s": builds, "warm_up_s": warm_s,
                  "wall_s": setup_wall, "calibration_s": cals},
        "metrics": None if run_s is None else {
            "setup_s": setup_wall * REF_CAL_S / statistics.median(cals),
            "run_s": run_s,
            "docs_per_s": wl.docs / run_s,
            "mb_per_s": wl.input_bytes / 1e6 / run_s,
        },
    }


def traced(wl, cores, seconds, work, seed, trace_path, cal) -> dict:
    event_dir = os.path.join(work, "eventlog")
    rec = Recorder(run_id=f"{wl.name}-{seed}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = start_session(cores, work, event_log=event_dir)
    session_s = time.perf_counter() - t0
    rec.sc = spark.sparkContext
    with rec.span("setup"):
        wl.build(spark)
    wl.expect()
    with rec.span("warm_up"):
        wl.warm_up(spark)
    # ledger first, so that the traced and the untraced loop below both
    # run on a JVM warmed by the same work
    with rec.span("ledger.span_inputs"):
        metrics = span_input_ratios(spark, text_frame(wl, spark))
    ledger = Ledger(seed, cores, work, rec, {wl.name: wl})
    ledger.run(spark)
    # both loops of a traced run are half as long: together they cost
    # one untraced loop
    loop_t = Loop(cal).measure(wl, spark, seconds / 2, rec)
    spark.stop()
    rec.sc = None
    ev = EventLog.from_dir(event_dir)
    ledger.write_path_from_log(ev)
    ledger.cluster_jobs_from_log(ev)

    spark = start_session(cores, work)
    wl.attach(spark)
    wl.warm_up(spark)
    loop_u = Loop(cal).measure(wl, spark, seconds / 2)
    spark.stop()
    spark = start_session(1, work)
    ledger.one_core_leg(spark, ledger.known[Flagship.name])
    spark.stop()

    metrics.update(ledger.metrics)
    metrics.update(python_rows(wl.own_texts))
    loop_jobs = [
        j for j in ev.jobs.values()
        if any(sp["start"] <= j["start"] <= sp["end"] for sp in loop_t.spans)
    ]
    wall = sum(sp["end"] - sp["start"] for sp in loop_t.spans)
    spark_m = ev.summary(loop_jobs, wall, cores)
    n = max(1, len(loop_t.spans))
    for k in ("jobs", "stages", "tasks", "shuffle_write_mb"):
        spark_m[k] /= n  # per run
    metrics.update({f"spark.{k}": v for k, v in spark_m.items()})
    metrics.update({
        "session.start_s": session_s,
        "driver.build_s": statistics.median(
            uncovered_s(sp["start"], sp["end"], loop_jobs) for sp in loop_t.spans),
        "trace.overhead_s": loop_t.median() - loop_u.median(),
    })
    rec.write(trace_path, {"metrics": metrics, "jobs_by_span": ev.by_description()})
    return {"loops": (loop_t, loop_u), "ledger": ledger, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--trace-file", required=True)
    a = p.parse_args(argv)

    # the calibration pool forks, so it starts before any py4j thread
    with Calibrator(a.cores) as cal:
        return _main(a, cal)


def _main(a, cal) -> int:
    wl = WORKLOADS[a.workload](a.seed, a.cores, a.work)
    if a.trace:
        res = traced(wl, a.cores, a.seconds, a.work, a.seed, a.trace_file, cal)
        loops = res["loops"]
        checked = sum(lp.checked for lp in loops) + res["ledger"].checked
        wrong = sum(lp.wrong for lp in loops) + res["ledger"].wrong
        loop = loops[1]
        extra = {"traced_run_s": quartiles(loops[0].ref_times)}
    else:
        res = untraced(wl, a.cores, a.seconds, a.work, cal)
        loops = (res["loop"],)
        checked, wrong = res["loop"].checked, res["loop"].wrong
        loop = res["loop"]
        extra = {"setup": res["setup"]}
    out = {
        "workload": a.workload,
        "seed": a.seed,
        "cores": a.cores,
        "docs": wl.docs,
        "input_mb": wl.input_bytes / 1e6,
        "run_s": quartiles(loop.ref_times) if loop.times else None,
        "wall_run_s": quartiles(loop.times) if loop.times else None,
        "calibration_s": quartiles(cal.samples),
        "attempted": sum(lp.attempted for lp in loops),
        "failed": sum(lp.failed for lp in loops),
        "checked_rows": checked,
        "wrong_rows": wrong,
        "metrics": res["metrics"],
        **extra,
    }
    with open(a.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    # raw series for the worker log
    print(json.dumps({"wall_run_s": loop.times, "run_s": loop.ref_times,
                      "calibration_s": cal.per_process}))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip the interpreter's ~3 s py4j/JVM shutdown: every session is
    # already stopped and run.py tears down the process group
    os._exit(code)
