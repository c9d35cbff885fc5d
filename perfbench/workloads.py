"""The workloads: how each prepares, runs one job through the
program's public functions, runs the same job staged layer by layer for
the traced run, and checks its output.

A job returns its materialized output; ``check`` compares it with the
reference (raising ``reference.Mismatch``), and ``frame`` gives the
output as a table for the hash comparison of staged and unstaged runs.
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import reference as ref
from stub import counting_stub
from tugas_2_big_data_spark.operators import dedup, financial, similarity
from tugas_2_big_data_spark.operators.partitioning import fan_out
from tugas_2_big_data_spark.pipelines import corpus, iqplus, yfinance
from tugas_2_big_data_spark.sources import external, sinks


class Workload:
    """One workload: inputs under ``in_dir``, program outputs under
    ``work_dir``."""

    name = ""

    def __init__(self, in_dir: str, work_dir: str):
        self.in_dir = in_dir
        self.work_dir = work_dir
        self.expected = None

    def generate(self, seed: int) -> dict:
        return gen.generate(self.name, seed, self.in_dir)

    # name of the set-up span that times ``prepare`` in the traced run
    prepare_span = "setup.prepare"

    # Untimed jobs after the cold job. Jobs keep speeding up for a minute
    # or more of a fresh run while the JIT compiles the hot paths, and
    # fastest on a workload whose cold job compiles little. A count, not
    # a time: with a time, a slower machine would warm up on fewer jobs
    # and its timed jobs would be slower again for that.
    warmup_jobs = 2

    def prepare(self, spark) -> None:
        """The program's one-time preparation, timed as part of set-up."""

    def job(self, spark, plan_hook=None):
        """Run the pipeline once and return its materialized output;
        ``plan_hook`` sees the final DataFrame before it runs."""
        raise NotImplementedError

    def staged(self, spark, tracer):
        """The job again, materialized at every layer boundary inside
        ``tracer`` spans. Returns the output and a function that gives
        the layer counts (called after the job's timing ends)."""
        raise NotImplementedError

    def quality(self) -> dict:
        """Result-quality metrics of the checked jobs. The exact
        workloads' outputs either equal the reference, so that they hold
        all of its top results, or fail the check and count in ok_frac:
        their recall is 1 by construction."""
        return {"recall_at_10": 1.0}


def _materialize(df):
    """Run ``df`` and keep its rows for the next layer."""
    return df.localCheckpoint(eager=True)


class OhlcvRollup(Workload):
    name = "ohlcv_rollup"
    warmup_jobs = 6

    def reference(self) -> dict:
        self.expected = ref.ohlcv_reference(self.in_dir)
        return {"rows": len(self.expected)}

    def _sources(self, spark):
        prices = spark.read.parquet(os.path.join(self.in_dir, "prices"))
        dim = external.read_csv_dim(spark, os.path.join(self.in_dir, "daftar_saham.csv"))
        return prices, dim

    def job(self, spark, plan_hook=None):
        prices, dim = self._sources(spark)
        out = yfinance.enrich_with_dimension(
            yfinance.aggregates(yfinance.prepare(prices)), dim
        )
        if plan_hook:
            plan_hook(out)
        return out.toArrow()

    def staged(self, spark, tracer):
        with tracer.span("sources.scan"):
            prices, dim = (_materialize(d) for d in self._sources(spark))
        with tracer.span("timeseries.aggregate"):
            agg = _materialize(yfinance.aggregates(yfinance.prepare(prices)))
        with tracer.span("yfinance.enrich"):
            out = yfinance.enrich_with_dimension(agg, dim).toArrow()
        return out, lambda: {"timeseries.groups_out": agg.count()}

    def frame(self, out):
        return out.to_pandas(), ref.OHLCV_KEYS

    def check(self, out) -> None:
        ref.check_ohlcv(out.to_pandas(), self.expected)


IDX_SCHEMA = T.StructType([
    T.StructField("company_code", T.StringType()),
    T.StructField("year", T.IntegerType()),
    T.StructField("period", T.StringType()),
    T.StructField("data", T.StructType([
        T.StructField(f, T.StringType()) for f in gen.TEXT_FIELDS + gen.NUMERIC_FIELDS
    ])),
])


class IdxUpsert(Workload):
    name = "idx_upsert"

    def reference(self) -> dict:
        self.expected = ref.idx_reference(self.in_dir)
        with open(os.path.join(self.in_dir, "batch", "reports.jsonl")) as fh:
            self.batch_rows = sum(1 for _ in fh)
        return {"rows": len(self.expected)}

    def _table(self) -> str:
        return os.path.join(self.work_dir, "idx_table")

    def _reports(self, spark, part: str):
        return external.read_json_docs(spark, os.path.join(self.in_dir, part), IDX_SCHEMA)

    def _upsert(self, df) -> None:
        sinks.merge_upsert(df, self._table(), ref.IDX_KEYS, partition_by=["year"])

    def prepare(self, spark):
        self._upsert(financial.transform(self._reports(spark, "base")))

    def job(self, spark, plan_hook=None):
        out = financial.transform(self._reports(spark, "batch"))
        if plan_hook:
            plan_hook(out)
        self._upsert(out)
        return self._table()

    def staged(self, spark, tracer):
        with tracer.span("sources.scan"):
            reports = _materialize(self._reports(spark, "batch"))
        with tracer.span("financial.transform"):
            out = _materialize(financial.transform(reports))
        with tracer.span("sinks.write") as s:
            started = time.time()
            self._upsert(out)

        def counts():
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(self._table()) for f in fs if f.endswith(".parquet")
            ]
            return {
                "sinks.files_written": sum(os.path.getmtime(f) >= started for f in files),
                "sinks.rows_rewritten_per_row_updated":
                    s.counts["output_rows"] / self.batch_rows,
            }

        return self._table(), counts

    def frame(self, out):
        return ref.read_idx_table(out), ref.IDX_KEYS

    def check(self, out) -> None:
        ref.check_idx(ref.read_idx_table(out), self.expected)


class NewsDedupSummarize(Workload):
    name = "news_dedup_summarize"
    warmup_jobs = 3

    def reference(self) -> dict:
        self.expected = ref.news_reference(self.in_dir)
        return {k: v for k, v in self.expected.items() if k != "frame"} | {
            "rows": len(self.expected["frame"])
        }

    def _docs(self, spark):
        return spark.read.parquet(os.path.join(self.in_dir, "news.parquet"))

    def job(self, spark, plan_hook=None):
        cleaned = corpus.clean_corpus(self._docs(spark))
        out = iqplus.summarize_news(cleaned, order_by=["doc_id"], text_col="text")
        if plan_hook:
            plan_hook(out)
        return out.toArrow()

    def staged(self, spark, tracer):
        """clean_corpus's stages through the same public functions, in
        its order, then summarize_news with a call-counting stub model."""
        calls = spark.sparkContext.accumulator(0)
        with tracer.span("sources.scan"):
            docs = _materialize(fan_out(self._docs(spark)))
        with tracer.span("dedup.exact"):
            fp = docs.withColumn("_fp", F.md5(dedup.normalized("text")))
            keep = fp.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
            survivors = _materialize(
                fp.join(keep, ["doc_id", "_fp"], "left_semi").drop("_fp")
            )
        with tracer.span("dedup.shingle"):
            sets = _materialize(dedup.shingle_sets(survivors, "text", "doc_id", widen=False))
            sig = _materialize(dedup.minhash_signatures_from_sets(sets, k=8))
        with tracer.span("dedup.lsh"):
            cand = _materialize(dedup.lsh_candidate_pairs(sig, k=8, bands=4))
        with tracer.span("dedup.verify"):
            pairs = _materialize(dedup.jaccard_verify_sets(sets, cand, threshold=0.5))
            losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
            deduped = _materialize(survivors.join(losers, "doc_id", "left_anti"))
        with tracer.span("text_analysis.enrich"):
            kept = _materialize(corpus.enrich_and_filter(deduped, "text", "doc_id"))
        with tracer.span("summarize.udf"):
            out = iqplus.summarize_news(
                kept, order_by=["doc_id"], text_col="text",
                backend_factory=functools.partial(counting_stub, calls),
            ).toArrow()

        def counts():
            n_cand, n_pairs = cand.count(), pairs.count()
            return {
                "dedup.lsh_candidates": n_cand,
                "dedup.verified_pairs": n_pairs,
                "dedup.candidate_precision": n_pairs / n_cand if n_cand else 0.0,
                "text_analysis.kept_frac": out.num_rows / deduped.count(),
                "summarize.docs": out.num_rows,
                "summarize.split_merge_docs": sum(
                    len(t.split()) > ref.CHUNK_TOKENS
                    for t in out.column("text").to_pylist()
                ),
                "summarize.backend_calls": calls.value,
            }

        return out, counts

    def frame(self, out):
        return out.to_pandas(), ["doc_id"]

    def check(self, out) -> None:
        ref.check_news(out.to_pandas(), self.expected)


class AnnServe(Workload):
    """Set-up builds an IVF index over the corpus; each request sends the
    next QUERY_BATCH vectors of the query pool (cycling) and collects
    their top-10."""

    name = "ann_serve"
    prepare_span = "similarity.build"
    QUERY_BATCH = 32

    def reference(self) -> dict:
        self.exact = ref.ann_exact(self.in_dir)
        self.ivf = None  # needs the index; built by the first check
        self.recalls: list[float] = []
        self.requests = 0
        return {"rows_per_request": self.QUERY_BATCH * ref.ANN_K}

    def _index(self) -> str:
        return os.path.join(self.work_dir, "ivf_index")

    def prepare(self, spark):
        corpus = spark.read.parquet(os.path.join(self.in_dir, "corpus.parquet"))
        similarity.ivf_build_index(corpus, self._index(), dim=gen.DIM)

    def _rows(self, request: int):
        n = gen.QUERY_POOL // self.QUERY_BATCH
        start = request % n * self.QUERY_BATCH
        return np.arange(start, start + self.QUERY_BATCH)

    def _queries(self, spark, rows):
        vecs = self.exact["queries"][rows]
        return spark.createDataFrame(
            [(gen.QUERY_ID_BASE + int(r), v.tolist()) for r, v in zip(rows, vecs)],
            "vec_id long, embedding array<float>",
        )

    def job(self, spark, plan_hook=None):
        rows = self._rows(self.requests)
        self.requests += 1
        out = similarity.ivf_topk_from_index(
            spark, self._index(), self._queries(spark, rows), nprobe=ref.NPROBE, k=ref.ANN_K
        )
        if plan_hook:
            plan_hook(out)
        return rows, out.toArrow()

    def staged(self, spark, tracer):
        """The last request again: cell assignment through
        ivf_probed_cells, then the ranking core that ivf_topk_from_index
        applies to the assigned queries and the inverted file."""
        rows = self._rows(self.requests - 1)
        queries = self._queries(spark, rows)
        with tracer.span("similarity.assign"):
            probed = _materialize(
                similarity.ivf_probed_cells(spark, self._index(), queries, nprobe=ref.NPROBE)
            )
        with tracer.span("similarity.rank"):
            assigned = probed.join(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").cast("array<double>").alias("query_vec"),
                ),
                "query_id",
            )
            cells = spark.read.parquet(os.path.join(self._index(), "invfile")).select(
                F.col("cid").cast("long"), "nbr_id", "nbr_vec"
            )
            out = similarity._ivf_rank(assigned, cells, ref.ANN_K).toArrow()

        def counts():
            scored = (
                assigned.join(cells, "cid")
                .filter(F.col("nbr_id") != F.col("query_id"))
                .count()
            )
            return {
                "similarity.cells_probed": probed.count(),
                "similarity.candidates_scored": scored,
                "similarity.candidates_per_result": scored / out.num_rows,
            }

        return (rows, out), counts

    def frame(self, out):
        return out[1].to_pandas(), ref.ANN_KEYS

    def check(self, out) -> None:
        rows, table = out
        if self.ivf is None:
            self.ivf = ref.IvfReference(self._index(), self.exact)
        actual = table.to_pandas()
        ref.check_ann(actual, self.ivf.answer(rows))
        recalls = ref.recall(actual, self.exact["exact"], rows)
        if sum(recalls) / len(recalls) < ref.RECALL_FLOOR:
            raise ref.Mismatch(f"recall@{ref.ANN_K} {sum(recalls) / len(recalls):.3f} "
                               f"below {ref.RECALL_FLOOR}")
        self.recalls += recalls

    def quality(self) -> dict:
        return {"recall_at_10": sum(self.recalls) / len(self.recalls) if self.recalls else 0.0}


WORKLOADS = {w.name: w for w in (OhlcvRollup, IdxUpsert, NewsDedupSummarize, AnnServe)}
