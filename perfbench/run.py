"""Seeded end-to-end benchmark of the package's public API.

    python3 perfbench/run.py --workload crm_window_load --seed 1 --seconds 16 --trace 0

Runs from the root of a checkout.  Sets up cold (launches the JVM, starts
the SparkSession, writes the generated inputs), warms the workload's code
paths, measures an amount of work sized by ``--seconds``, checks the
outputs, and prints one JSON line last on stdout.  ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer
metrics, from a run that also records spans and writes them to
``.perfbench_runs/spans-<workload>-<seed>.jsonl``.
Without the package beside it the run exits non-zero before printing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.launcher import ROOT, RUNS_DIR, Launcher  # noqa: E402
from perfbench.trace import Outcome, Tracer, median, tail  # noqa: E402

WORKLOADS = {
    "crm_window_load": "perfbench.crm",
    "corpus_prep": "perfbench.corpus",
    "vector_topk_serve": "perfbench.vectors",
}

# Metric names and units, as BENCHMARK.json at the checkout root fixes them.
# A traced run reports every per-layer metric; layers its workload never
# calls read 0.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


class Context:
    """What a workload sees: the seed, the run length, the session, the
    tracer, and a slot for the inputs its set-up wrote."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.launcher = Launcher(f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.state = None

    @property
    def spark(self):
        return self.launcher.spark


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    mod = importlib.import_module(WORKLOADS[workload])
    ctx = Context(workload, seed, seconds, trace)
    try:
        session_s = ctx.launcher.start_session()
        t0 = time.perf_counter()
        mod.write_inputs(ctx)
        setup_s = session_s + time.perf_counter() - t0
        t_measure = time.perf_counter()
        out: Outcome = mod.measure(ctx)
        t_measure = time.perf_counter() - t_measure
        if trace:
            os.makedirs(RUNS_DIR, exist_ok=True)
            ctx.tracer.write(os.path.join(RUNS_DIR, f"spans-{workload}-{seed}.jsonl"))
    finally:
        ctx.launcher.close()

    summary = {
        "workload": workload,
        "seed": seed,
        "setup_s": setup_s,
        "measure_s": t_measure,
        "op_s": out.op_s,
        "op_s_tail": tail(out.op_s),
        "ingest_rows_per_s": out.ingest_rows_per_s,
        **out.summary,
    }
    print("perfbench: " + json.dumps(summary), file=sys.stderr)
    if trace:
        unknown = set(out.per_layer) - set(PER_LAYER)
        assert not unknown, f"per-layer metrics missing from BENCHMARK.json: {unknown}"
        values = {name: out.per_layer.get(name, 0) for name in PER_LAYER}
        values["session.start_s"] = session_s
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "ingest_rows_per_s": median(out.ingest_rows_per_s),
            "op_ms_p50": 1000 * median(out.op_s),
            "quality": out.quality,
            "ok_frac": 1 - out.failed / max(out.attempted, 1),
        }
        units = END_TO_END
    assert values.keys() == units.keys(), "metrics differ from BENCHMARK.json"
    metrics = {name: {"value": _finite(v), "unit": units[name]} for name, v in values.items()}
    return {
        "correct": out.ok,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def _finite(v: float) -> float:
    """A metric with no sample (its operation failed) reads 0."""
    return v if math.isfinite(v) else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
