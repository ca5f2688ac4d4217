"""vector_topk_serve: interactive top-k against a persisted IVF index.

Set-up writes seeded clustered 64-dimension vectors as parquet.  The run
builds the index with ``build_ivf_index``, sends ``WARM_QUERIES`` untimed
queries to it, then one closed-loop client sends
``ivf_topk_from_index(...).collect()`` queries, each a perturbed vector
already in the index, and appends a small batch with ``append_to_ivf_index``
after every ``QUERIES_PER_APPEND`` queries.  The query count is sized by
``--seconds``.  Every answer, warm-up queries included, is checked against
numpy over the vectors present at query time: ten distinct ids that exist,
in score order, each score equal to the exact cosine.

Two recalls are averaged over every query.  ``recall_at_10`` is the
overlap with numpy's exact top ten over all vectors: it measures IVF
itself and varies with the seed's clusters.  The gated ``quality`` is the
overlap with the best ten the index allows: numpy's exact top ten among
the vectors in the ``N_PROBE`` cells whose centroids (read from the index)
are closest to the query, each vector in the cell of its nearest centroid.
It is 1.0 on every seed for a correct program, so a change that saves time
by probing, scoring or assigning less exactly shows in it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datapipeline_omnichanneltobigquery_spark.operators.similarity import (
    append_to_ivf_index,
    build_ivf_index,
    ivf_topk_from_index,
)
from perfbench.gen import VectorStream
from perfbench.trace import Outcome, dir_stats, median

DIM = 64
N_VECTORS = 5_000
N_CENTROIDS = 16
N_PROBE = 4
K = 10
WARM_QUERIES = 4
QUERIES_PER_APPEND = 3
APPEND_ROWS = 64
SCORE_TOL = 1e-6


def queries_for(seconds: int) -> int:
    """Timed queries per run: with their appends they take about
    ``seconds`` on a 4-core host.  A fixed count keeps the append schedule,
    and so the index each query sees, the same on every commit."""
    return max(5, seconds // 2)


class _State:
    def __init__(self, seed: int, n: int, path: str):
        self.stream = VectorStream(seed, DIM)
        ids, vecs = self.stream.take(n)
        self.ids, self.vecs = ids, vecs
        self.path = path
        _write(path, ids, vecs)

    def add(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.vecs = np.concatenate([self.vecs, vecs])


def _write(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), vecs.shape[1])
    table = pa.table({"vec_id": ids, "embedding": emb.cast(pa.list_(pa.float32()))})
    pq.write_table(table, path)


def write_inputs(ctx) -> None:
    path = os.path.join(ctx.launcher.fresh_dir("inputs"), "vectors.parquet")
    ctx.state = _State(ctx.seed, N_VECTORS, path)


class _Server:
    """The index plus the numpy truth for what it holds."""

    def __init__(self, ctx, out: Outcome, state: _State, index: str):
        self.ctx, self.spark, self.tr, self.out = ctx, ctx.spark, ctx.tracer, out
        self.state, self.index = state, index
        self.plan_s: list[float] = []
        self.exec_s: list[float] = []
        self.append_s: list[float] = []
        self.recall: list[float] = []
        self.ivf_recall: list[float] = []
        self.probe_files: list[int] = []
        self.probe_frac: list[float] = []
        self._unit = _unit(state.vecs)

    def build(self) -> float:
        emb = self.spark.read.parquet(self.state.path)
        t0 = time.perf_counter()
        with self.tr.span("similarity.build"):
            build_ivf_index(emb, self.index, n_centroids=N_CENTROIDS, dim=DIM)
        elapsed = time.perf_counter() - t0
        cent = pq.read_table(f"{self.index}/centroids").to_pydict()
        order = np.argsort(cent["cid"])
        self._cids = np.asarray(cent["cid"])[order]
        self._cent = np.asarray(cent["cv"], dtype=np.float64)[order]
        self._cell = self._assign(self._unit)
        return elapsed

    def _assign(self, unit: np.ndarray) -> np.ndarray:
        """Each vector's cell: its nearest centroid, the lowest cid on a tie."""
        return self._cids[np.argmax(unit @ self._cent.T, axis=1)]

    def _probe(self, qu: np.ndarray) -> np.ndarray:
        """The ``N_PROBE`` cells a query opens: best centroid score first,
        the lowest cid on a tie."""
        return self._cids[np.lexsort((self._cids, -(self._cent @ qu)))[:N_PROBE]]

    def query(self) -> float:
        q = self.state.stream.query(self.state.vecs)
        t0 = time.perf_counter()
        with self.tr.span("similarity.query_plan"):
            df = ivf_topk_from_index(self.spark, self.index, q, k=K, n_probe=N_PROBE, dim=DIM)
        t1 = time.perf_counter()
        with self.tr.span("similarity.query_exec"):
            rows = df.collect()
        t2 = time.perf_counter()
        self.plan_s.append(t1 - t0)
        self.exec_s.append(t2 - t1)
        qu = np.asarray(q) / (np.linalg.norm(q) or 1.0)
        probed = self._probe(qu)
        self._check(qu, probed, rows)
        if self.tr.enabled:
            self._probe_stats(probed)
        return t2 - t0

    def append(self) -> None:
        ids, vecs = self.state.stream.take(APPEND_ROWS)
        batch = self.spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<float>",
        )
        t0 = time.perf_counter()
        with self.tr.span("similarity.append"):
            append_to_ivf_index(self.spark, self.index, batch, dim=DIM)
        self.append_s.append(time.perf_counter() - t0)
        self.state.add(ids, vecs)
        new = _unit(vecs)
        self._unit = np.concatenate([self._unit, new])
        self._cell = np.concatenate([self._cell, self._assign(new)])

    def _check(self, qu: np.ndarray, probed: np.ndarray, rows) -> None:
        sims = self._unit @ qu
        got = [r["vec_id"] for r in rows]
        self.recall.append(len(self._top(sims) & set(got)) / K)
        in_cells = np.flatnonzero(np.isin(self._cell, probed))
        self.ivf_recall.append(len(self._top(sims, in_cells) & set(got)) / K)
        pos = {int(i): j for j, i in enumerate(self.state.ids)}
        scores = [r["cos_sim"] for r in rows]
        if len(got) != K or len(set(got)) != K or any(i not in pos for i in got):
            self.out.fail(f"top-k ids {got}")
        elif any(abs(s - sims[pos[i]]) > SCORE_TOL for i, s in zip(got, scores)):
            self.out.fail("top-k scores differ from the exact cosine")
        elif any(a < b for a, b in zip(scores, scores[1:])):
            self.out.fail("top-k rows not in score order")

    def _top(self, sims: np.ndarray, among: np.ndarray | None = None) -> set[int]:
        """Ids of the ``K`` best scores (the lowest id on a tie), over all
        vectors or the positions ``among``."""
        pos = np.arange(len(sims)) if among is None else among
        return set(self.state.ids[pos[np.argsort(-sims[pos], kind="stable")[:K]]].tolist())

    def _probe_stats(self, probed: np.ndarray) -> None:
        """Postings files and the share of indexed rows in the probed cells,
        as the index holds them on disk."""
        postings = f"{self.index}/postings"
        rows = {
            int(d.split("=")[1]): _rows(os.path.join(postings, d))
            for d in os.listdir(postings)
            if d.startswith("cluster=")
        }
        self.probe_files.append(sum(dir_stats(f"{postings}/cluster={c}")[0] for c in probed))
        self.probe_frac.append(sum(rows.get(c, 0) for c in probed) / max(sum(rows.values()), 1))


def _rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _unit(vecs: np.ndarray) -> np.ndarray:
    v = vecs.astype(np.float64)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def measure(ctx) -> Outcome:
    out = Outcome()
    t_warm = time.perf_counter()
    tracing, ctx.tracer.enabled = ctx.trace, False
    # Build and append once on a small index of another seed, so the timed
    # build and appends do not pay the first jobs' costs ...
    warm_state = _State(ctx.seed + 7919, 500, ctx.launcher.path("warm.parquet"))
    warm = _Server(ctx, Outcome(), warm_state, ctx.launcher.path("warm-index"))
    warm.build()
    warm.append()
    t_warm = time.perf_counter() - t_warm

    server = _Server(ctx, out, ctx.state, ctx.launcher.path("index"))
    build_s = float("nan")
    ctx.tracer.enabled = tracing
    with out.op():
        build_s = server.build()
        out.ingest_rows_per_s.append(N_VECTORS / build_s)
    # ... and query the full-size index untimed, so the first timed query
    # does not pay for the JIT compiling the planning path.
    ctx.tracer.enabled = False
    for _ in range(WARM_QUERIES if out.ok else 0):
        with out.op():
            server.query()
    server.plan_s.clear()
    server.exec_s.clear()
    # The traced run records spans on every other query only, so its
    # untraced queries give the tracing overhead.
    traced_s, plain_s = [], []
    for n in range(queries_for(ctx.seconds)):
        if not out.ok:
            break
        ctx.tracer.enabled = tracing and n % 2 == 1
        ctx.tracer.new_op()
        with out.op():
            if n and n % QUERIES_PER_APPEND == 0:
                server.append()
            latency = server.query()
            out.op_s.append(latency)
            (traced_s if ctx.tracer.enabled else plain_s).append(latency)
    ctx.tracer.enabled = tracing
    recall = float(np.mean(server.recall)) if server.recall else 0.0
    out.quality = float(np.mean(server.ivf_recall)) if server.ivf_recall else 0.0

    out.per_layer.update({
        "similarity.build_s": build_s,
        "similarity.query_plan_ms": 1000 * median(server.plan_s),
        "similarity.query_exec_ms": 1000 * median(server.exec_s),
        "similarity.postings_files_probed": median(server.probe_files),
        "similarity.rows_probed_frac": median(server.probe_frac),
        "similarity.append_s": median(server.append_s),
        "similarity.recall_at_10": recall,
    })
    if tracing:
        out.per_layer["trace.overhead_frac"] = median(traced_s) / median(plain_s) - 1
    out.summary = {
        "index_build_s": build_s,
        "topk_ms_p50": 1000 * median(out.op_s),
        "index_append_s_p50": median(server.append_s),
        "recall_at_10": recall,
        "ivf_recall_at_10": out.quality,
        "queries": len(out.op_s),
        "recall_queries": len(server.recall),
        "warmup_s": t_warm,
        "appends": len(server.append_s),
    }
    return out
