"""The benchmark's workloads: closed-loop batch jobs over seeded inputs.

Each workload knows how to build its inputs (``build``), warm the
session up (``warm_up``), run one job through the engine's public API
(``run``) and check that job's output against an independent in-process
computation (``check``). ``run`` returns only once the complete result
has been collected to the driver. ``BENCHMARK.json`` names the workloads
that run as closed loops; the ledger also runs ``ExtractJob`` once per
traced run as its write-path probe.
"""

from __future__ import annotations

import os
import random
import shutil
from contextlib import nullcontext

from . import inputs as I

WARM_RUNS = 2
SAMPLE_ROWS = {"flagship": 200, "extract_job": 24, "boilerplate_sql": 300}


def _span_len_agg():
    """Total text characters over all spans of a document frame -- the
    aggregate that forces every rewritten span to materialize."""
    from pyspark.sql import functions as F

    return F.sum(
        F.aggregate(
            "spans",
            F.lit(0).cast("bigint"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
        )
    )


def expected_spans(spans: list[dict], rewrite) -> list[tuple]:
    """Independent form of the pipeline's span contract: text spans go
    through ``rewrite``; media spans and null texts pass through."""
    out = []
    for s in spans:
        text = s["text"]
        if s["kind"] == "text" and text is not None:
            text = rewrite(text)
        out.append((s["kind"], text, s["media_ref"], s["offset"]))
    return out


def _row_spans(row_spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row_spans]


class Workload:
    name = ""
    docs = 0
    input_bytes = 0

    def __init__(self, seed: int, cores: int, work: str):
        self.seed = seed
        self.cores = cores
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.rng = random.Random(f"{self.name}:sample:{seed}")
        self.expected: dict = {}
        # a seeded ~1.5 MB sample of this workload's HTML, set by expect(),
        # for the pure-Python layer rows
        self.own_texts: list[str] = []

    def build(self, spark) -> None:
        """Generate and write the inputs (part of set-up)."""
        raise NotImplementedError

    def expect(self) -> None:
        """Compute the expected sample outputs in-process (not timed)."""
        raise NotImplementedError

    def attach(self, spark) -> None:
        """Re-create session-scoped state (views, functions) after a
        SparkContext restart."""

    def warm_up(self, spark) -> None:
        """Full runs of the job, untimed: JIT, Python workers and their
        caches are warm before the first measured run (after a single
        warm-up run, the first measured run was still 10-50% slower
        than the median)."""
        for k in range(WARM_RUNS):
            self.run(spark, f"warm-up-{k}")
            self.after_run(f"warm-up-{k}")

    def run(self, spark, i: int):
        raise NotImplementedError

    def check(self, result) -> tuple[int, int]:
        """(rows checked, rows wrong)."""
        raise NotImplementedError

    def after_run(self, i: int) -> None:
        """Clean-up between runs, outside the timed region."""



class Flagship(Workload):
    """``pipeline.rewrite_documents(docs, "relaxed")`` over the
    ``datagen.bench_spans`` corpus of the seeded documents, replicated,
    written to parquet at set-up and scanned by every run."""

    name = "flagship"
    replicate = 5

    def build(self, spark):
        from selma_spark.spark.datagen import bench_spans

        self.base = os.path.join(self.work, "documents")
        I.write_parquet(
            I.documents(self.seed, id_offset=(self.seed % 100_000) * 10_000),
            self.base, "documents",
        )
        self.corpus = os.path.join(self.work, "corpus")
        bench_spans(
            spark.read.parquet(self.base),
            replicate=self.replicate,
            n_partitions=4 * self.cores,
        ).write.mode("overwrite").parquet(self.corpus)

    def expect(self):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from selma_spark.rewriter import Rewriter
        from selma_spark.sanitizer import RELAXED

        table = pq.read_table(self.corpus)
        self.docs = table.num_rows
        texts = pc.list_flatten(table.column("spans")).combine_chunks().field("text")
        self.input_bytes = pc.sum(pc.binary_length(texts)).as_py()
        ids = table.column("doc_id").to_pylist()
        self.sample_ids = sorted(self.rng.sample(ids, SAMPLE_ROWS[self.name]))

        def rows(doc_ids):
            mask = pc.is_in(table.column("doc_id"), value_set=pa.array(doc_ids))
            return table.filter(mask).to_pylist()

        rw = Rewriter(sanitizer=RELAXED).rewrite
        self.expected = {
            r["doc_id"]: expected_spans(r["spans"], rw) for r in rows(self.sample_ids)
        }
        self.own_texts = [s["text"] for r in rows(self.rng.sample(ids, 2500))
                     for s in r["spans"] if s["kind"] == "text" and s["text"]]

    def frame(self, spark):
        return spark.read.parquet(self.corpus)

    def run(self, spark, i, rec=None):
        from pyspark.sql import functions as F

        from selma_spark.spark.pipeline import rewrite_documents

        with _span(rec, "pipeline.rewrite_documents"):
            out = rewrite_documents(self.frame(spark), "relaxed")
        sample = F.collect_list(
            F.when(F.col("doc_id").isin(self.sample_ids), F.struct("doc_id", "spans"))
        )
        with _span(rec, "collect"):
            return out.select(
                _span_len_agg().alias("chars"),
                F.count("*").alias("docs"),
                sample.alias("sample"),
            ).collect()[0]

    def check(self, row):
        got = {r["doc_id"]: _row_spans(r["spans"]) for r in row["sample"]}
        wrong = sum(got.get(k) != v for k, v in self.expected.items())
        return len(self.expected) + 1, wrong + (row["docs"] != self.docs)


def _content_handlers():
    from selma_spark.extract import ContentExtractor

    return [ContentExtractor()]


class ExtractJob(Workload):
    """``pipeline.run_pipeline`` with ContentExtractor + RELAXED and
    byte-weighted bucketing into a fresh ParquetSink directory -- the
    shape of ``job.py --extract`` -- over seeded 20-90 KB pages."""

    name = "extract_job"
    n_pages = 80

    def build(self, spark):
        self.pages = os.path.join(self.work, "pages")
        self._rows = I.web_pages(self.seed, self.n_pages)
        I.write_parquet(self._rows, self.pages, "spans", n_files=4 * self.cores)

    def expect(self):
        from selma_spark.extract import ContentExtractor
        from selma_spark.rewriter import Rewriter
        from selma_spark.sanitizer import RELAXED

        rows = self._rows
        self.docs = len(rows)
        self.input_bytes = sum(
            len(s["text"].encode()) for r in rows for s in r["spans"] if s["text"]
        )
        sample = self.rng.sample(rows, SAMPLE_ROWS[self.name])

        def rw(text):
            return Rewriter(sanitizer=RELAXED, handlers=[ContentExtractor()]).rewrite(text)

        self.expected = {r["doc_id"]: expected_spans(r["spans"], rw) for r in sample}
        self.sample_ids = sorted(self.expected)
        self.own_texts = [r["spans"][0]["text"] for r in sample]

    def frame(self, spark):
        return spark.read.parquet(self.pages)

    def out_dir(self, i):
        return os.path.join(self.work, f"out-{i}")

    def run(self, spark, i, rec=None):
        from pyspark.sql import functions as F

        from selma_spark.spark.pipeline import run_pipeline

        with _span(rec, "pipeline.run_pipeline"):
            res = run_pipeline(
                spark, self.frame(spark), self.out_dir(i),
                config="relaxed", handlers_factory=_content_handlers,
                n_buckets=4 * self.cores, byte_weighted=True,
            )
        with _span(rec, "collect"):
            lineage = spark.read.parquet(res.lineage_path).agg(
                F.sum("doc_count").alias("docs"),
                F.count("*").alias("buckets"),
                F.sum((F.col("status") != "ok").cast("int")).alias("not_ok"),
            ).collect()[0]
            sample = (
                spark.read.parquet(res.output_path)
                .where(F.col("doc_id").isin(self.sample_ids))
                .select("doc_id", "spans")
                .collect()
            )
        return {"lineage": lineage, "sample": sample, "metrics_path": res.metrics_path}

    def check(self, result):
        got = {r["doc_id"]: _row_spans(r["spans"]) for r in result["sample"]}
        wrong = sum(got.get(k) != v for k, v in self.expected.items())
        lin = result["lineage"]
        lineage_wrong = lin["docs"] != self.docs or lin["not_ok"] != 0
        return len(self.expected) + 1, wrong + lineage_wrong

    def after_run(self, i):
        shutil.rmtree(self.out_dir(i), ignore_errors=True)


class BoilerplateSql(Workload):
    """``SELECT selma_sanitize(html, 'relaxed'), selma_extract_text(html)``
    over a pages table drawn mostly from a small fragment pool."""

    name = "boilerplate_sql"
    n_rows = 8_000

    def build(self, spark):
        self.pages = os.path.join(self.work, "pages")
        self._rows = I.boilerplate_pages(self.seed, self.n_rows)
        # one file (one task) per core: each pandas_udf task carries
        # ~0.3 s of fixed cost, which four tasks per core would make the
        # dominant cost of the query
        I.write_parquet(self._rows, self.pages, "pages", n_files=self.cores)
        self.attach(spark)

    def attach(self, spark):
        from selma_spark.spark.functions import register_sql_functions

        spark.read.parquet(self.pages).createOrReplaceTempView("pages")
        register_sql_functions(spark)

    def expect(self):
        from selma_spark.extract import TextBreaker
        from selma_spark.rewriter import Rewriter
        from selma_spark.sanitizer import DEFAULT, RELAXED

        rows = self._rows
        self.docs = len(rows)
        self.input_bytes = sum(len(r["html"].encode()) for r in rows)
        sample = self.rng.sample(rows, SAMPLE_ROWS[self.name])
        self.expected = {
            r["doc_id"]: (
                Rewriter(sanitizer=RELAXED).rewrite(r["html"]),
                Rewriter(sanitizer=DEFAULT, handlers=[TextBreaker()]).rewrite(r["html"]),
            )
            for r in sample
        }
        ids = ", ".join(str(k) for k in sorted(self.expected))
        self.query = (
            "SELECT count(*) AS docs, sum(length(s)) AS s_chars, "
            "sum(length(e)) AS e_chars, "
            f"collect_list(IF(doc_id IN ({ids}), named_struct("
            "'doc_id', doc_id, 's', s, 'e', e), NULL)) AS sample "
            "FROM (SELECT doc_id, selma_sanitize(html, 'relaxed') AS s, "
            "selma_extract_text(html) AS e FROM pages)"
        )
        self.own_texts = [r["html"] for r in self.rng.sample(rows, 2000)]

    def run(self, spark, i, rec=None):
        with _span(rec, "functions.sql_query"):
            df = spark.sql(self.query)
        with _span(rec, "collect"):
            return df.collect()[0]

    def check(self, row):
        got = {r["doc_id"]: (r["s"], r["e"]) for r in row["sample"]}
        wrong = sum(got.get(k) != v for k, v in self.expected.items())
        return len(self.expected) + 1, wrong + (row["docs"] != self.docs)


def _span(rec, name):
    return rec.span(name) if rec is not None else nullcontext()


WORKLOADS = {w.name: w for w in (Flagship, ExtractJob, BoilerplateSql)}
