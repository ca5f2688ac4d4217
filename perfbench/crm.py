"""crm_window_load: the paper's own job.

A seeded page function serves 500-record deal pages with dirty ints and
dates and planted transient failures.  The run loads one window with
``run_pipeline(action="new")`` (three times, for a steadier throughput
figure), then pulls a fixed number of ``update`` windows (sized by
``--seconds``) into the growing main table.  Each update window re-delivers
a fixed share of ids already in the table.  A pure-Python MERGE model
follows every window; at the end the main table must equal it as a
multiset with unique ids.

The traced run alternates the plain ``run_pipeline`` call with a staged
copy of it that materializes between the public calls (source →
cast/sort → sink or merge) and records a span around each.
"""

from __future__ import annotations

import time
from collections import Counter

import pyspark.sql.functions as F

from datapipeline_omnichanneltobigquery_spark.operators.normalize import (
    cast_columns,
    sort_by_created_at,
)
from datapipeline_omnichanneltobigquery_spark.pipeline import run_pipeline
from datapipeline_omnichanneltobigquery_spark.sinks.catalog import (
    drop_table,
    overwrite_table,
    row_count,
    upsert_into_table,
)
from datapipeline_omnichanneltobigquery_spark.sources.paginated import paginated_to_df
from perfbench.gen import (
    DATE_FIELDS,
    DEAL_SCHEMA,
    INT_FIELDS,
    CrmPlan,
    PageFetcher,
    Window,
    cast_record,
    dirty_counts,
)
from perfbench.trace import Outcome, dir_stats, median

LOAD_ROWS = 6_000
WINDOW_ROWS = 1_000
EXISTING_SHARE = 0.3
LOADS = 3
TABLE = "main"


def updates_for(seconds: int) -> int:
    """Update windows per run: ``LOADS`` loads plus these take about
    ``seconds`` on a 4-core host.  The count is fixed rather than
    time-bounded so that a faster commit is not handed a bigger table."""
    return max(3, seconds // 5)


def write_inputs(ctx) -> None:
    """Deals are generated by the page function as it is called; the only
    input fixed ahead is the window plan."""
    ctx.state = CrmPlan(ctx.seed, LOAD_ROWS, WINDOW_ROWS, EXISTING_SHARE)


class _Job:
    def __init__(self, ctx, out: Outcome):
        self.ctx, self.spark, self.tr, self.out = ctx, ctx.spark, ctx.tracer, out
        sc = self.spark.sparkContext
        self.acc = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))
        self.model: dict[int, tuple] = {}
        self.src = {"pages": 0, "calls": 0, "retries": 0, "busy_s": 0.0}
        self.staged = {"write_amp": [], "merge_s": []}

    def fetcher(self, window: Window) -> PageFetcher:
        return PageFetcher(window, *self.acc)

    def _acc_values(self):
        return tuple(a.value for a in self.acc)

    # -- one window through the package ------------------------------------

    def run_window(
        self, window: Window, action: str, staged: bool, table: str
    ) -> tuple[int, float]:
        """Pull one window into ``table``; returns (table rows, seconds)."""
        before = self._acc_values()
        t0 = time.perf_counter()
        if staged:
            with self.tr.span(f"crm.{action}"):
                n, cast = self._staged(window, action, table)
        else:
            n = run_pipeline(
                self.spark,
                fetch_page=self.fetcher(window),
                n_pages=window.n_pages,
                schema=DEAL_SCHEMA,
                action=action,
                table=table,
            ).rows_loaded
        elapsed = time.perf_counter() - t0
        if staged:
            self._check_nulls(cast, window)
        else:
            calls, retries, busy = (a - b for a, b in zip(self._acc_values(), before))
            self.src["pages"] += window.n_pages
            self.src["calls"] += calls
            self.src["retries"] += retries
            self.src["busy_s"] += busy
        return n, elapsed

    def _staged(self, window: Window, action: str, table: str):
        """``run_pipeline`` cut at its public calls; returns (table rows,
        the materialized cast and sorted window)."""
        tr, spark = self.tr, self.spark
        with tr.span("sources.fetch"):
            src = paginated_to_df(
                spark, self.fetcher(window), window.n_pages, DEAL_SCHEMA
            ).localCheckpoint()
        with tr.span("normalize.plan"):
            df = sort_by_created_at(cast_columns(src))
        with tr.span("normalize.exec"):
            df = df.localCheckpoint()
        if action == "new":
            with tr.span("catalog.write"):
                overwrite_table(df, table)
            files, size = dir_stats(self._table_dir(table))
            tr.count("catalog.files_written", files)
            tr.count("catalog.bytes_written", size)
            with tr.span("catalog.verify_count"):
                return row_count(spark, table), df
        with tr.span("catalog.stage_window"):
            overwrite_table(df, "__window")
        _, window_bytes = dir_stats(self._table_dir("__window"))
        t0 = time.perf_counter()
        with tr.span("upsert.merge"):
            n = upsert_into_table(spark, spark.table("__window"), table)
        self.staged["merge_s"].append(time.perf_counter() - t0)
        drop_table(spark, "__window")
        _, main_bytes = dir_stats(self._table_dir(table))
        self.staged["write_amp"].append((window_bytes + main_bytes) / window_bytes)
        return n, df

    def _table_dir(self, table: str) -> str:
        return f"{self.ctx.launcher.warehouse}/{table}"

    def _check_nulls(self, df, window: Window) -> None:
        """The cast policy's NULLs must equal the generator's dirty values."""
        ints = [c for c in INT_FIELDS if c != "id"]
        row = df.select(
            sum(F.sum(F.col(c).isNull().cast("long")) for c in ints).alias("i"),
            sum(F.sum(F.col(c).isNull().cast("long")) for c in DATE_FIELDS).alias("d"),
        ).first()
        records = [r for p in range(1, window.n_pages + 1) for r in window.page(p)]
        want_i, want_d = dirty_counts(records)
        self.tr.count("normalize.ints_coerced_null", row["i"])
        self.tr.count("normalize.dates_coerced_null", row["d"])
        if (row["i"], row["d"]) != (want_i, want_d):
            self.out.fail(f"window {window.index}: cast NULLs {(row['i'], row['d'])} "
                          f"!= dirty values {(want_i, want_d)}")

    # -- the MERGE model ----------------------------------------------------

    def apply_model(self, window: Window, action: str) -> tuple[int, int]:
        """Apply the window to the model; returns (updated, inserted)."""
        if action == "new":
            self.model = {}
        updated = inserted = 0
        for p in range(1, window.n_pages + 1):
            for rec in window.page(p):
                row = cast_record(rec)
                if row[0] in self.model:
                    updated += 1
                else:
                    inserted += 1
                self.model[row[0]] = row
        return updated, inserted


def measure(ctx) -> Outcome:
    out = Outcome()
    job = _Job(ctx, out)
    t_warm = time.perf_counter()
    warm = CrmPlan(ctx.seed + 7919, LOAD_ROWS, WINDOW_ROWS, EXISTING_SHARE)
    for staged in (False, True) if ctx.trace else (False,):
        for _ in range(2):  # the second load still runs well below speed
            job.run_window(warm.initial(), "new", staged, "warmup")
        job.run_window(warm.next_update(), "update", staged, "warmup")
    drop_table(ctx.spark, "warmup")
    t_warm = time.perf_counter() - t_warm
    job.src = {k: 0 for k in job.src}
    job.staged = {k: [] for k in job.staged}
    ctx.tracer.spans.clear()
    ctx.tracer.counters.clear()

    plan: CrmPlan = ctx.state
    plain_s: dict[str, list[float]] = {"new": [], "update": []}
    staged_s: dict[str, list[float]] = {"new": [], "update": []}
    updated = inserted = 0
    for op in range(LOADS + updates_for(ctx.seconds)):
        action = "new" if op < LOADS else "update"
        window = plan.initial() if action == "new" else plan.next_update()
        staged = ctx.trace and op % 2 == 1
        ctx.tracer.new_op()
        before = len(job.model)
        with out.op():
            n, elapsed = job.run_window(window, action, staged, TABLE)
            up, ins = job.apply_model(window, action)
            if action == "update":
                updated, inserted = updated + up, inserted + ins
                if n - before != ins:
                    out.fail(f"window {window.index}: {n - before} rows inserted, model {ins}")
            if n != len(job.model):
                out.fail(f"window {window.index}: table has {n} rows, model {len(job.model)}")
            (staged_s if staged else plain_s)[action].append(elapsed)
            if not staged:
                if action == "new":
                    out.ingest_rows_per_s.append(len(window.ids) / elapsed)
                else:
                    out.op_s.append(elapsed)
        if not out.ok:
            break

    rows: list[tuple] = []
    with out.op():
        rows = [tuple(r) for r in ctx.spark.table(TABLE).collect()]
        got, want = Counter(rows), Counter(job.model.values())
        out.quality = sum((got & want).values()) / max(len(rows), len(job.model), 1)
        if got != want:
            out.fail(f"main table differs from the MERGE model ({len(rows)} vs "
                     f"{len(job.model)} rows)")
        if len({r[0] for r in rows}) != len(rows):
            out.fail("main table ids are not unique")

    tr, src = ctx.tracer, job.src
    pages = max(src["pages"], 1)
    out.per_layer.update({
        "sources.pages": src["pages"],
        "sources.page_calls": src["calls"],
        "sources.fetch_amplification": src["calls"] / pages,
        "sources.page_retries": src["retries"],
        "sources.fetch_busy_s": src["busy_s"],
        "normalize.plan_s": median(tr.durations("normalize.plan", under="crm.new")),
        "normalize.exec_s": median(tr.durations("normalize.exec", under="crm.new")),
        "normalize.ints_coerced_null": tr.counters["normalize.ints_coerced_null"],
        "normalize.dates_coerced_null": tr.counters["normalize.dates_coerced_null"],
        "catalog.write_s": median(tr.durations("catalog.write")),
        "catalog.files_written": tr.counters["catalog.files_written"],
        "catalog.bytes_written": tr.counters["catalog.bytes_written"],
        "catalog.verify_count_s": median(tr.durations("catalog.verify_count")),
        "catalog.write_amplification": median(job.staged["write_amp"]),
        "upsert.merge_s": median(job.staged["merge_s"]),
        "upsert.rows_updated": updated,
        "upsert.rows_inserted": inserted,
    })
    if ctx.trace:
        out.per_layer["trace.overhead_frac"] = (
            median(staged_s["update"]) / median(plain_s["update"]) - 1
        )
    out.summary = {
        "load_rows_per_s": median(out.ingest_rows_per_s),
        "upsert_s_p50": median(out.op_s),
        "update_windows": len(plain_s["update"]) + len(staged_s["update"]),
        "main_rows": len(rows),
        "warmup_s": t_warm,
    }
    return out
