"""corpus_prep: the LLM training-corpus preparation pass.

Set-up writes seeded documents (with planted near-duplicates and junk) and
an eval slice (with planted contamination) as parquet.  Each operation
runs ``prepare_corpus`` over them and writes the result as parquet; the
run repeats it a number of times sized by ``--seconds``.  Every output must hash-match the
package's DuckDB twin ``prepare_corpus_sql`` over the same parquet.

The traced run alternates the one-call pipeline with a staged copy that
materializes after each stage's public call (dedup → decontam → quality
filter → split) and records a span around each.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from datapipeline_omnichanneltobigquery_spark.operators import decontam as dc
from datapipeline_omnichanneltobigquery_spark.operators import dedup as dd
from datapipeline_omnichanneltobigquery_spark.operators import sampling as sa
from datapipeline_omnichanneltobigquery_spark.operators import textstats as ts
from datapipeline_omnichanneltobigquery_spark.operators.corpus_prep import (
    prepare_corpus,
    prepare_corpus_sql,
)
from perfbench.gen import Corpus, make_corpus
from perfbench.trace import Outcome, median

N_DOCS = 3_000
N_BENCH = 150
ID, TEXT = "doc_id", "text"
# prepare_corpus's defaults, spelled out for the staged copy
JACCARD_N, JACCARD_T = 3, 0.5
DECONTAM = {"n": 5, "min_overlap": 3, "max_df_bench": 8}
MIN_QUALITY = 0.5
SPLITS, SPLIT_SEED = {"train": 0.9, "val": 0.05, "test": 0.05}, "corpus-v1"


def passes_for(seconds: int) -> int:
    """Preparation passes per run: about ``seconds`` on a 4-core host."""
    return max(2, seconds // 10)


class _Inputs:
    def __init__(self, corpus: Corpus, dirpath: str):
        self.corpus = corpus
        self.docs = os.path.join(dirpath, "docs.parquet")
        self.bench = os.path.join(dirpath, "bench.parquet")
        for path, rows in ((self.docs, corpus.docs), (self.bench, corpus.bench)):
            ids, texts = zip(*rows)
            pq.write_table(pa.table({ID: pa.array(ids, pa.int64()), TEXT: list(texts)}), path)


def write_inputs(ctx) -> None:
    ctx.state = _Inputs(make_corpus(ctx.seed, N_DOCS, N_BENCH), ctx.launcher.fresh_dir("inputs"))


def _digest_sql(rel: str) -> str:
    return f"SELECT count(*), sum(hash({ID}, {TEXT}, split)) FROM ({rel})"


def twin_digest(inp: _Inputs) -> tuple:
    sql = prepare_corpus_sql(
        f"read_parquet('{inp.docs}')", f"read_parquet('{inp.bench}')", ID, TEXT
    )
    with duckdb.connect() as con:
        return con.execute(_digest_sql(sql)).fetchone()


def output_digest(path: str) -> tuple:
    with duckdb.connect() as con:
        return con.execute(_digest_sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")).fetchone()


class _Prep:
    def __init__(self, ctx, inp: _Inputs):
        self.ctx, self.spark, self.tr, self.inp = ctx, ctx.spark, ctx.tracer, inp
        self.docs = self.spark.read.parquet(inp.docs)
        self.bench = self.spark.read.parquet(inp.bench)
        self.stage_counts: dict[str, list[int]] = {"decontam": [], "textstats": []}

    def run(self, staged: bool) -> tuple[str, float]:
        """One preparation pass to a fresh parquet directory."""
        path = os.path.join(self.ctx.launcher.fresh_dir("out"), "corpus")
        t0 = time.perf_counter()
        if staged:
            self._staged(path)
        else:
            prepare_corpus(self.docs, self.bench, ID, TEXT).write.parquet(path)
        return path, time.perf_counter() - t0

    def _staged(self, path: str) -> None:
        tr, docs = self.tr, self.docs
        with tr.span("dedup.exec"):
            labeled = dd.dedup_pipeline(docs, ID, TEXT, n=JACCARD_N, threshold=JACCARD_T)
            keep = labeled.filter(F.col("keep")).select(F.col("id").alias(ID)).localCheckpoint()
            kept = docs.join(keep, ID, "left_semi").localCheckpoint()
        with tr.span("decontam.exec"):
            clean = dc.decontaminate(kept, self.bench, ID, TEXT, ID, TEXT, **DECONTAM)
            clean = clean.localCheckpoint()
        with tr.span("textstats.exec"):
            good = clean.filter(ts.quality_score(F.col(TEXT)) >= F.lit(MIN_QUALITY))
            good = good.localCheckpoint()
        with tr.span("corpus.split_write"):
            sa.hash_split(good, ID, SPLITS, seed=SPLIT_SEED).write.parquet(path)
        n_kept, n_clean, n_good = kept.count(), clean.count(), good.count()
        self.stage_counts["decontam"].append(n_kept - n_clean)
        self.stage_counts["textstats"].append(n_clean - n_good)

    def dedup_counters(self) -> dict[str, float]:
        """Candidate and near-duplicate pair counts of the dedup stage's
        Jaccard join (threshold 0 keeps every discovered candidate)."""
        cand = dd.jaccard_pairs(self.docs, ID, TEXT, n=JACCARD_N, threshold=0.0,
                                max_df=dd.JACCARD_MAX_DF).count()
        near = dd.jaccard_pairs(self.docs, ID, TEXT, n=JACCARD_N, threshold=JACCARD_T,
                                max_df=dd.JACCARD_MAX_DF).count()
        return {
            "dedup.candidate_pairs": cand,
            "dedup.near_dup_pairs": near,
            "dedup.candidate_precision": near / max(cand, 1),
        }


def _planted_recall(corpus: Corpus, path: str) -> float:
    """Share of planted near-duplicate copies that the pass removed."""
    kept = set(pq.read_table(path, columns=[ID]).column(ID).to_pylist())
    return len(corpus.near_dup_ids - kept) / max(len(corpus.near_dup_ids), 1)


def measure(ctx) -> Outcome:
    out = Outcome()
    inp: _Inputs = ctx.state
    warm = _Prep(ctx, _Inputs(make_corpus(ctx.seed + 7919, 300, 30), ctx.launcher.fresh_dir("warm")))
    for staged in (False, True) if ctx.trace else (False,):
        warm.run(staged)
    ctx.tracer.spans.clear()

    want = twin_digest(inp)
    prep = _Prep(ctx, inp)
    plain_s, staged_s, recall = [], [], []
    for op in range(passes_for(ctx.seconds)):
        if not out.ok:
            break
        staged = ctx.trace and op % 2 == 1
        ctx.tracer.new_op()
        with out.op():
            path, elapsed = prep.run(staged)
            got = output_digest(path)
            if got != want:
                out.fail(f"output {got} != DuckDB twin {want}")
            recall.append(_planted_recall(inp.corpus, path))
            (staged_s if staged else plain_s).append(elapsed)
            if not staged:
                out.op_s.append(elapsed)
                out.ingest_rows_per_s.append(N_DOCS / elapsed)
    out.quality = min(recall) if recall else 0.0

    if ctx.trace:
        tr = ctx.tracer
        out.per_layer.update(prep.dedup_counters())
        out.per_layer.update({
            "dedup.exec_s": median(tr.durations("dedup.exec")),
            "dedup.planted_recall": out.quality,
            "decontam.exec_s": median(tr.durations("decontam.exec")),
            "decontam.docs_removed": median(prep.stage_counts["decontam"]),
            "textstats.exec_s": median(tr.durations("textstats.exec")),
            "textstats.docs_filtered": median(prep.stage_counts["textstats"]),
            "trace.overhead_frac": median(staged_s) / median(plain_s) - 1,
        })
    c = inp.corpus
    out.summary = {
        "corpus_docs_per_s": median(out.ingest_rows_per_s),
        "passes": len(out.op_s),
        "planted": {"near_dups": len(c.near_dup_ids), "junk": len(c.junk_ids),
                    "contaminated": len(c.contaminated_ids)},
        "output_rows": want[0],
    }
    return out
