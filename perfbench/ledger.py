"""The per-layer ledger of a traced run.

Every traced run reports every per-layer metric. Rows fall in two kinds:

* rows of the traced workload itself -- ``session.start_s``,
  ``driver.build_s``, ``spark.*``, ``trace.overhead_s``, the span-input
  ratios ``pipeline.candidate_frac`` / ``pipeline.repeat_frac`` and the
  pure-Python rows (``tokenizer.*``, ``rewriter.*``, ``extract.*``), which
  time the public calls in this process on a seeded sample of the
  workload's own HTML;
* layer probes that run the same way whichever workload is traced, each
  on the seeded inputs of the workload that exercises the layer
  (flagship corpus for scan/hop/rewrite and the 1-core leg, extract
  pages for the write path, boilerplate pages for the SQL functions,
  token-salted documents and embeddings for the dedup and ANN chains).

Probe jobs run under ``ledger.*`` job descriptions so the event log can
tell them apart from the workload's own jobs.
"""

from __future__ import annotations

import os
import statistics
import time

from . import inputs as I
from .workloads import BoilerplateSql, ExtractJob, Flagship, _span_len_agg

DEDUP_BASE_DOCS = 2000
DEDUP_REPLICATE = 2
EMB_REPLICATE = 2
PY_REPS = 3      # pure-Python passes per row
LAYER_REPS = 3   # interleaved scan / hop / rewrite probes
SPARK_REPS = 2   # SQL function probes
N_CENTROIDS = 16


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


# --- pure-Python rows ----------------------------------------------------------


def python_rows(texts: list[str]) -> dict:
    """MB/s of the public tokenizer / Rewriter calls on ``texts``
    (median of PY_REPS passes; one Rewriter per configuration, reused
    across texts as a pipeline task does) and the exact token count."""
    from selma_spark.extract import ContentExtractor, reference_bench_handlers
    from selma_spark.rewriter import Rewriter
    from selma_spark.sanitizer import RELAXED
    from selma_spark.tokenizer import tokenize

    mb = sum(len(t.encode()) for t in texts) / 1e6

    def rate(fn):
        return mb / statistics.median(
            _timed(lambda: [fn(t) for t in texts])[0] for _ in range(PY_REPS)
        )

    return {
        "tokenizer.mb_per_s": rate(tokenize),
        "tokenizer.tokens": sum(len(tokenize(t)) for t in texts),
        "rewriter.sanitize_mb_per_s": rate(Rewriter(sanitizer=RELAXED).rewrite),
        "rewriter.handlers_mb_per_s": rate(
            Rewriter(sanitizer=None, handlers=reference_bench_handlers()).rewrite
        ),
        "extract.content_mb_per_s": rate(
            Rewriter(sanitizer=RELAXED, handlers=[ContentExtractor()]).rewrite
        ),
    }


def span_input_ratios(spark, text_frame) -> dict:
    """Candidate share (non-null text containing '<') of all input texts,
    and the share of candidates a per-task memo would serve from cache:
    candidates of <= 2048 chars whose text already occurred earlier in
    the same input partition. Counted in SQL over ``text_frame``, a
    frame of (pid, text) rows."""
    from pyspark.sql import functions as F

    cand = F.col("text").isNotNull() & F.col("text").contains("<")
    row = text_frame.select(
        F.count("*").alias("n"), F.sum(cand.cast("long")).alias("c")
    ).collect()[0]
    dup = (
        text_frame.where(cand & (F.length("text") <= 2048))
        .groupBy("pid", "text")
        .count()
        .select(F.sum(F.col("count") - 1).alias("repeats"))
        .collect()[0]["repeats"]
    ) or 0
    n, c = row["n"] or 0, row["c"] or 0
    return {
        "pipeline.candidate_frac": c / n if n else 0.0,
        "pipeline.repeat_frac": dup / c if c else 0.0,
    }


def text_frame(workload, spark):
    """(pid, text) rows of the workload's input as its scan reads it."""
    from pyspark.sql import functions as F

    pid = F.spark_partition_id().alias("pid")
    if isinstance(workload, BoilerplateSql):
        return spark.read.parquet(workload.pages).select(pid, F.col("html").alias("text"))
    return (
        workload.frame(spark)
        .select(pid, F.explode("spans").alias("s"))
        .select("pid", F.col("s.text").alias("text"))
    )


# --- Spark layer probes -----------------------------------------------------------


class Ledger:
    """Layer probes over the seed's inputs; ``rec`` labels every probe."""

    def __init__(self, seed: int, cores: int, work: str, rec, known: dict):
        self.seed, self.cores, self.work, self.rec = seed, cores, work, rec
        self.known = known  # workload name -> already-built workload
        self.metrics: dict = {}
        self.checked = 0
        self.wrong = 0
        self.spans: dict[str, dict] = {}  # probe name -> its last span

    def _workload(self, cls, spark):
        wl = self.known.get(cls.name)
        if wl is None:
            wl = cls(self.seed, self.cores, self.work)
            wl.build(spark)
            wl.expect()
            self.known[cls.name] = wl
        return wl

    def _probe(self, name, fn):
        with self.rec.span(f"ledger.{name}") as sp:
            out = fn()
        self.spans[name] = sp
        return sp["end"] - sp["start"], out

    def run(self, spark) -> None:
        with self.rec.span("ledger.inputs"):
            flag = self._workload(Flagship, spark)
            ext = self._workload(ExtractJob, spark)
            bp = self._workload(BoilerplateSql, spark)
        self.flagship_layers(spark, flag)
        self.write_path(spark, ext)
        self.sql_functions(spark, bp)
        self.dedup_chains(spark)

    def flagship_layers(self, spark, wl):
        from selma_spark.spark.pipeline import rewrite_documents

        def agg(df):
            return df.select(_span_len_agg()).collect()

        def identity(batches):  # nested: pickled by value for the workers
            yield from batches

        scan, hop, full = [], [], []
        for _ in range(LAYER_REPS):  # interleaved, so drift hits all three
            df = wl.frame(spark)
            scan.append(self._probe("scan", lambda: agg(df))[0])
            hop.append(self._probe(
                "hop", lambda: agg(df.mapInArrow(identity, schema=df.schema)))[0])
            full.append(self._probe(
                "rewrite", lambda: agg(rewrite_documents(df, "relaxed")))[0])
        s, h, f = (statistics.median(x) for x in (scan, hop, full))
        self.rewrite_n_s = f
        self.metrics.update({
            "scan.read_s": s,
            "pipeline.hop_s": h - s,
            "pipeline.rewrite_s": f - h,
        })

    def one_core_leg(self, spark, wl):
        """Flagship rewrite on a local[1] session (caller restarts)."""
        from selma_spark.spark.pipeline import rewrite_documents

        def agg(df):
            return rewrite_documents(df, "relaxed").select(_span_len_agg()).collect()

        agg(wl.frame(spark).limit(1000))  # start the session's Python worker
        t1 = self._probe("rewrite_1core", lambda: agg(wl.frame(spark)))[0]
        self.metrics.update({
            "pipeline.docs_per_s_1core": wl.docs / t1,
            "pipeline.scaling_eff": t1 / self.rewrite_n_s / self.cores,
        })

    def write_path(self, spark, wl):
        res = self._probe("run_pipeline", lambda: wl.run(spark, "ledger"))[1]
        c, w = wl.check(res)
        self.checked += c
        self.wrong += w
        b = [r["bytes_out"] for r in spark.read.parquet(res["metrics_path"])
             .select("bytes_out").collect()]
        wl.after_run("ledger")
        self.metrics["pipeline.bucket_skew"] = max(b) / (sum(b) / len(b)) if b else 0.0

    def write_path_from_log(self, ev) -> None:
        """Split the run_pipeline probe by its Spark jobs: the job whose
        result stages ran longest is the rewrite+write job; shuffle-only
        jobs before it are the bucketing exchange; jobs after it write
        lineage and metrics."""
        sp = self.spans["run_pipeline"]
        jobs = sorted(
            (j for j in ev.jobs.values()
             if j["end"] is not None and sp["start"] <= j["start"] <= sp["end"]),
            key=lambda j: j["start"],
        )

        def result_run_s(job):
            return sum(ev.stage_run_s(s) for s in job["stages"]
                       if not ev.stages.get(s, {}).get("shuffle_map", True))

        w = max(range(len(jobs)), key=lambda i: result_run_s(jobs[i]))

        def wall(js):
            return sum(j["end"] - j["start"] for j in js)

        self.metrics.update({
            "pipeline.bucket_s": wall(j for j in jobs[:w] if result_run_s(j) == 0),
            "pipeline.sink_write_s": wall([jobs[w]]),
            "pipeline.aux_s": wall(jobs[w + 1:]),
        })

    def sql_functions(self, spark, wl):
        q = {
            "sanitize_udf": "SELECT sum(length(selma_sanitize(html, 'relaxed'))) FROM pages",
            "extract_text_udf": "SELECT sum(length(selma_extract_text(html))) FROM pages",
        }
        times: dict[str, list[float]] = {k: [] for k in q}
        for _ in range(SPARK_REPS):
            for k, sql in q.items():
                times[k].append(self._probe(k, lambda s=sql: spark.sql(s).collect())[0])
        self.metrics["functions.sanitize_udf_s"] = statistics.median(times["sanitize_udf"])
        self.metrics["functions.extract_text_udf_s"] = statistics.median(
            times["extract_text_udf"])

    def dedup_chains(self, spark):
        from pyspark.sql import functions as F

        from selma_spark.spark import simsearch, textops

        from .checks import check_clusters, check_simhash_pairs, check_verified_pairs

        base_rows = I.documents(self.seed, n=DEDUP_BASE_DOCS)
        emb_rows = I.embeddings(self.seed)
        d_dir = os.path.join(self.work, "dedup")
        with self.rec.span("ledger.dedup_inputs"):
            I.write_parquet(base_rows, os.path.join(d_dir, "base"), "documents")
            I.write_parquet(emb_rows, os.path.join(d_dir, "emb_base"), "embeddings")
            I.soak_documents(
                spark.read.parquet(os.path.join(d_dir, "base")),
                DEDUP_REPLICATE, 4 * self.cores,
            ).write.mode("overwrite").parquet(os.path.join(d_dir, "docs"))
            I.soak_embeddings(
                spark.read.parquet(os.path.join(d_dir, "emb_base")),
                EMB_REPLICATE, 4 * self.cores,
            ).write.mode("overwrite").parquet(os.path.join(d_dir, "emb"))
        docs = spark.read.parquet(os.path.join(d_dir, "docs"))
        emb = spark.read.parquet(os.path.join(d_dir, "emb"))
        texts = {
            r["doc_id"] * DEDUP_REPLICATE + rep: I.salt_text(r["text"], rep)
            for r in base_rows for rep in range(DEDUP_REPLICATE)
        }

        dt_v, verified = self._probe(
            "near_dup_verified", lambda: textops.near_dup_verified(docs).collect())
        cands = self._probe(
            "near_dup_pairs", lambda: textops.near_dup_pairs(docs, ordered=False).collect()
        )[1]
        dt_s, pairs = self._probe(
            "simhash_near_dup", lambda: textops.simhash_near_dup(docs).collect())
        occ = self._probe("simhash_bands", lambda: textops.simhash_bands(
            textops.simhash64(docs).select("doc_id", "simhash")
        ).groupBy("band_id", "band_val").count().where(F.col("count") > 100).count())[1]
        dt_c, clusters = self._probe(
            "near_dup_clusters", lambda: textops.near_dup_clusters(docs).collect())
        dt_kb, assign = self._probe(
            "kmeans_build",
            lambda: simsearch.kmeans_refined_assign(emb, n_centroids=N_CENTROIDS))
        dt_ka, krow = self._probe("kmeans_assign", lambda: assign.agg(
            F.count("*").alias("n"),
            F.min("cid").alias("lo"), F.max("cid").alias("hi"),
        ).collect()[0])
        n_vec = len(emb_rows) * EMB_REPLICATE
        for c, w in (
            check_verified_pairs(verified, texts),
            check_simhash_pairs(pairs, texts),
            check_clusters(clusters, cands),
            (1, int(krow["n"] != n_vec or krow["lo"] < 0 or krow["hi"] >= N_CENTROIDS)),
        ):
            self.checked += c
            self.wrong += w
        self.metrics.update({
            "textops.near_dup_verified_s": dt_v,
            "textops.simhash_near_dup_s": dt_s,
            "textops.near_dup_clusters_s": dt_c,
            "textops.candidates": len(cands),
            "textops.verified": len(verified),
            "textops.selectivity": len(verified) / len(cands) if cands else 0.0,
            "textops.cap_dropped_buckets": occ,
            "simsearch.kmeans_build_s": dt_kb,
            "simsearch.kmeans_assign_s": dt_ka,
        })

    def cluster_jobs_from_log(self, ev) -> None:
        sp = self.spans["near_dup_clusters"]
        self.metrics["textops.cluster_jobs"] = sum(
            sp["start"] <= j["start"] <= sp["end"] for j in ev.jobs.values()
        )
