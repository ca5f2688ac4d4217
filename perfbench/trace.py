"""In-memory span recorder and counters for the traced run.

A span is (name, start, end, parent, op): ``parent`` is the id of the span
open when it started, ``op`` the operation it belongs to.  Spans stay in
memory and are written out once, when the run ends.  A disabled recorder
hands out a shared no-op context, so the untraced run pays one attribute
lookup per call site.  Counters are plain sums and are kept in both runs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

_NULL = nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> None:
        """Start the next operation: later spans carry its id."""
        self._op += 1

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] += value

    def durations(self, name: str, under: str | None = None) -> list[float]:
        """Durations of the spans called ``name``, optionally only those
        whose parent span is called ``under``."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and (under is None or s["parent"] is not None
                 and self.spans[s["parent"]]["name"] == under)
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"counters": dict(self.counters), "self_s": self.self_times()}) + "\n")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> float | None:
    """The highest percentile that still has at least ten samples beyond
    it (the 11th-largest sample); None below eleven samples."""
    return sorted(xs)[-11] if len(xs) >= 11 else None


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a table or index directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


@dataclass
class Outcome:
    """What one workload run measured.  Every operation runs inside
    :meth:`op`; one that raises or fails a check counts once in ``failed``."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    ingest_rows_per_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    quality: float = float("nan")
    per_layer: dict[str, float] = field(default_factory=dict)
    summary: dict[str, object] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.errors.append(what)
        print(f"perfbench: check failed: {what}", file=sys.stderr)

    @contextmanager
    def op(self):
        """Count one operation; an exception inside ends the block and
        counts as its failure."""
        self.attempted += 1
        n = len(self.errors)
        try:
            yield
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.fail(traceback.format_exc())
        finally:
            if len(self.errors) > n:
                self.failed += 1

    @property
    def ok(self) -> bool:
        return not self.errors
