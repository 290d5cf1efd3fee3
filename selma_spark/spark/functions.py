"""Spark SQL function surface: the engine as registered SQL UDFs.

Gives pure-SQL users the rewrite capability:

    SELECT selma_sanitize(html, 'relaxed') FROM pages
    SELECT selma_extract_text(html) FROM pages
    SELECT selma_main_content(html) FROM pages

All three are scalar pandas UDFs on the kernels of pipeline.py, built
once per task (the per-executor handler-table reuse the reference leaves
as a TODO, reference rewriter.rs:330,363). ``selma_sanitize`` keeps one
rewrite_kernel per config name seen in the task, so it gets the same
sanitize-only span memo as the mapInArrow path; ``selma_extract_text``
runs the kernel over DEFAULT + TextBreaker (no memo: handler paths are
never memoized); ``selma_main_content`` runs the collector kernel with
one DensityTextExtractor reset per row. NULL html stays NULL and
``<``-free text passes through unchanged.

The scalar form, not the iterator-of-series form, is deliberate: Spark
evaluates each iterator UDF in its own ArrowEvalPython node (one more
Python worker and arrow round trip per UDF in a query), while scalar
pandas UDFs in one SELECT share one node and one worker."""

from __future__ import annotations

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession

from ..extract import DensityTextExtractor, TextBreaker
from ..sanitizer import DEFAULT
from .pipeline import collect_kernel, resolve_config, rewrite_kernel

# (task attempt id, kernels by key): the Python worker outlives its
# tasks, so kernels are dropped when the next task starts
_task = [None, {}]


def _kernel(key, build):
    """The kernel ``build()`` for the running task, built on first use."""
    tid = TaskContext.get().taskAttemptId()
    if _task[0] != tid:
        _task[:] = [tid, {}]
    kernels = _task[1]
    if key not in kernels:
        kernels[key] = build()
    return kernels[key]


def _apply(html: pd.Series, fn) -> pd.Series:
    return pd.Series([h if h is None or "<" not in h else fn(h) for h in html])


def _sanitize(html: pd.Series, config: pd.Series) -> pd.Series:
    by_name = _kernel("sanitize", dict)  # one kernel per config name

    def rewrite(h, c):
        rw = by_name.get(c)
        if rw is None:
            rw = by_name[c] = rewrite_kernel(resolve_config(c or "default"))
        return rw(h)

    return pd.Series([
        h if h is None or "<" not in h else rewrite(h, c)
        for h, c in zip(html, config)
    ])


def _extract_text(html: pd.Series) -> pd.Series:
    return _apply(html, _kernel(
        "extract_text", lambda: rewrite_kernel(DEFAULT, [TextBreaker()])
    ))


def _main_content(html: pd.Series) -> pd.Series:
    collect = _kernel(
        "main_content", lambda: collect_kernel(DensityTextExtractor())
    )
    return _apply(html, lambda h: collect(h).main_text)


def register_sql_functions(spark: SparkSession) -> None:
    """Register the engine's SQL functions on a session (also ships the
    package to workers)."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    from .shipping import ensure_shipped

    ensure_shipped(spark)
    spark.udf.register("selma_sanitize", pandas_udf(_sanitize, "string"))
    spark.udf.register("selma_extract_text", pandas_udf(_extract_text, "string"))
    spark.udf.register("selma_main_content", pandas_udf(_main_content, "string"))
