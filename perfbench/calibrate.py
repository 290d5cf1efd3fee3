"""Host-speed calibration: a fixed CPU job that does not touch selma_spark.

The reference host is a few cores of a shared machine whose speed
drifts by up to ~2.5x over minutes (neighbours, not steal time: the
guest's steal counter stays near 0 while every CPU-bound job, Python
or JVM, slows down together). A wall-clock time taken in a slow phase
and one taken in a fast phase differ by more than any bound a
performance change could be judged by.

So the benchmark measures the host's current speed next to every run:
``cores`` pool processes, forked before the JVM starts, each parse a
fixed HTML document with the standard library's pure-Python
``html.parser`` (tokenizer-shaped work: regex scans, string slicing,
method dispatch), all at once, as the workload's Python workers do.
``measure()`` returns the mean per-process CPU time of that job (CPU
time, so a Spark background thread taking a core from one of the
processes for a moment does not read as a slow host). Timed
values are then reported in reference seconds: wall seconds scaled by
``REF_CAL_S / calibration``, i.e. what the run would have taken with the
calibration job at ``REF_CAL_S``. The job never changes with the program
under test, so a change to the program moves the scaled time exactly as
much as the wall time.
"""

from __future__ import annotations

import multiprocessing
import statistics
import time
from html.parser import HTMLParser

# The unit of reference seconds: the calibration (mean CPU seconds per
# process, all ``cores`` processes at once) of a host at reference speed.
# A fixed constant; the 4-core reference host reads 0.11-0.22 s.
REF_CAL_S = 0.25
PASSES = 8


def _document() -> str:
    """A fixed ~60 KB page: the same bytes on every host and run."""
    rows = []
    for i in range(400):
        rows.append(
            f'<div class="r{i % 7}" data-i="{i}"><a href="/p/{i}?q=1&amp;x={i % 13}">'
            f"link {i}</a> <b>bold {i}</b> text &amp; more text {i * 31 % 97}"
            f'<img src="/i/{i}.png" alt="img {i}"><!-- c{i} --></div>\n'
        )
    return "<html><head><title>cal</title></head><body>" + "".join(rows) + "</body></html>"


class _Count(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.n = 0

    def handle_starttag(self, tag, attrs):
        self.n += 1 + len(attrs)

    def handle_data(self, data):
        self.n += len(data)


_DOC = _document()


def _job(_):
    t0 = time.perf_counter()
    c0 = time.process_time()
    n = 0
    for _ in range(PASSES):
        p = _Count()
        p.feed(_DOC)
        p.close()
        n += p.n
    return time.process_time() - c0, time.perf_counter() - t0, n


class Calibrator:
    """A pool of ``cores`` processes that times the calibration job.

    Create it before the Spark session (the pool forks, and a fork of a
    process that already runs py4j threads is unsafe); use it as a
    context manager so the pool is always closed and joined."""

    def __init__(self, cores: int):
        self.cores = cores
        self.pool = multiprocessing.get_context("fork").Pool(cores)
        self.samples: list[float] = []
        self.per_process: list[list[float]] = []
        self.measure()  # first touch: page in the module and the document

    def measure(self) -> float:
        out = self.pool.map(_job, range(self.cores), chunksize=1)
        if len({n for _, _, n in out}) != 1:
            raise RuntimeError("calibration job gave different results")
        s = statistics.fmean(c for c, _, _ in out)
        self.samples.append(s)
        self.per_process.append([(c, w) for c, w, _ in out])
        return s

    def close(self) -> None:
        self.pool.close()
        self.pool.join()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
