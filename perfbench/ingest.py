"""The write side of the admin_plane workload: an open-loop writer commits
seeded event micro-batches into two ledger tables, and every ingest phase
is followed by the reference's cron pair (refresh_all, then the
maintenance cycle with its worker pool, expire_snapshots and
remove_orphan_files)."""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from common import Ctx

DB = "ingest"
TABLES = ("events_a", "events_b")
DAYS = 8  # event days, from 2024-01-01
# the planner clamps to now - 96 h, so days up to DAYS - 3 are compacted
NOW = dt.datetime(2024, 1, 1) + dt.timedelta(days=DAYS)
# every ingest phase commits one block of batches whose sizes, day spans
# and tables are these lists in a seeded order, so every round does the
# same work and the seed decides its arrangement, days and rows
BLOCK_ROWS = (600, 1200, 1800)
BLOCK_SPANS = (1, 2, 3)
BLOCK_TABLES = ("events_a", "events_a", "events_b")
BOOTSTRAP_ROWS, BOOTSTRAP_SPAN = 1200, 2
RATE_PER_S = 2.0  # below the sustainable commit rate on 4 cores
MAX_BLOCKS = 12  # commits past the last block start over from the first batch


def make_batches(ctx: Ctx, out_dir: str) -> list[dict]:
    """Seeded micro-batches as parquet files: one bootstrap batch per
    table, then MAX_BLOCKS blocks."""
    import datagen

    rng = ctx.rng(7)
    plan = [(t, BOOTSTRAP_ROWS, BOOTSTRAP_SPAN) for t in TABLES]
    for _ in range(MAX_BLOCKS):
        plan += zip(rng.permutation(BLOCK_TABLES), rng.permutation(BLOCK_ROWS),
                    rng.permutation(BLOCK_SPANS))
    batches, next_id = [], 0
    for i, (table, n, span) in enumerate(plan):
        n, span = int(n), int(span)
        first = int(rng.integers(0, DAYS - span + 1))
        tbl = datagen.events_table(rng, n, span, first_id=next_id, first_day=first)
        path = os.path.join(out_dir, f"batch_{i:04d}.parquet")
        pq.write_table(tbl, path)
        batches.append({"path": path, "rows": n, "table": str(table),
                        "bytes": os.path.getsize(path)})
        next_id += n
    return batches


class Ingest:
    """The ingest tables of one admin plane — ``events_a`` (day(ts)) and
    ``events_b`` (day(ts) + identity(event_type)) — with the writer, the
    cron pair and the per-round checks.

    Readers learn what changed from counters bumped to odd before and to
    even after each change: ``version`` for every commit or expiry,
    ``rows_version`` for appends only (the one change that alters record
    counts), ``cache_version`` for every ``refresh_all``.
    ``cache_rows_version`` is the ``rows_version`` the metadata cache
    reflects."""

    def __init__(self, ctx: Ctx, wh: str, state: str, batches: list[dict]):
        from lakehouse_admin_spark.engine import LakehouseAdmin
        from lakehouse_admin_spark.sources.ledger import PartitionField

        self.ctx, self.batches = ctx, batches
        # task_concurrency stays at its default of 1: two optimize tasks
        # on one table fail with CommitConflictError (see README.md)
        self.admin = LakehouseAdmin(ctx.spark, wh, state_dir=state)
        schema = self._read(batches[0]["path"]).schema
        day = PartitionField(source="ts", transform="day", name="ts_day")
        kind = PartitionField(source="event_type", transform="identity", name="event_type")
        self.admin.create_table(DB, "events_a", schema, [day])
        self.admin.create_table(DB, "events_b", schema, [day, kind])
        self.committed = {t: 0 for t in TABLES}
        self.user_bytes = 0
        self.next_batch = 0
        self.lat: list[float] = []
        self.late: list[float] = []
        self.cron: list[float] = []
        self.phase = "ingest"
        self.version = self.rows_version = self.cache_version = 0
        self.cache_rows_version = -1
        self.races: list[str] = []  # cached reads that failed beside a refresh

    def unchanged(self, counter: str, v: int) -> bool:
        """No change of kind ``counter`` was under way at ``v`` or since."""
        return v % 2 == 0 and getattr(self, counter) == v

    @contextmanager
    def _changing(self, rows: bool):
        self.version += 1
        self.rows_version += rows
        try:
            yield
        finally:
            self.version += 1
            self.rows_version += rows

    def probe_empty_refresh(self) -> str:
        """refresh_all over a warehouse whose tables are all still empty
        (a known defect: it raises KeyError)."""
        try:
            self.admin.refresh_all()
            return "ok"
        except KeyError as ex:
            return f"KeyError: {ex}"

    def refresh(self) -> None:
        self.cache_version += 1
        try:
            self.admin.refresh_all()
            self.cache_rows_version = self.rows_version
        finally:
            self.cache_version += 1

    def _read(self, path: str):
        """A batch file as the tables' schema: ts is written as a zoneless
        timestamp[us] and held as TIMESTAMP_LTZ."""
        from pyspark.sql import functions as F

        df = self.ctx.spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    def commit(self, batch: dict) -> None:
        tbl = self.admin.table(DB, batch["table"])
        with self._changing(rows=True):
            tbl.append(self._read(batch["path"]))
        self.committed[batch["table"]] += batch["rows"]
        self.user_bytes += batch["bytes"]

    def bootstrap(self) -> None:
        """One commit per table, so the first refresh has rows to cache."""
        for batch in self.batches[:len(TABLES)]:
            self.commit(batch)
        self.next_batch = len(TABLES)

    def ingest_phase(self) -> None:
        """Open loop: batch i is due at start + i / RATE_PER_S; its latency
        runs from its due time to the end of its commit."""
        start = time.perf_counter()
        for i in range(len(BLOCK_ROWS)):
            due = start + i / RATE_PER_S
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
            self.late.append(max(time.perf_counter() - due, 0.0))
            batch = self.batches[self.next_batch % len(self.batches)]
            self.next_batch += 1
            try:
                self.commit(batch)
            except Exception as ex:  # noqa: BLE001 — a failed commit is a failed op
                self.ctx.op(False, f"append {batch['path']}: {type(ex).__name__}: {ex}")
                continue
            self.ctx.op(True, "append")
            self.lat.append(time.perf_counter() - due)

    def cron_pair(self) -> dict:
        """refresh_all → maintenance cycle + worker pool → expire → orphans,
        then the round's checks: no task error, ``count_rows()`` equals the
        rows committed, and the live file count falls when compaction
        rewrote files."""
        from lakehouse_admin_spark import maintenance, tasks

        a, ctx = self.admin, self.ctx
        live_before = sum(len(a.table(DB, t).live_files()) for t in TABLES)
        self.phase = "maintenance"
        t0 = time.perf_counter()
        self.refresh()
        with self._changing(rows=False):
            planned = tasks.run_maintenance_cycle(
                a.tasks, a.catalog, now=NOW, settings=a.settings.optimize_settings())
            tasks.run_worker_pool(a.tasks, a.catalog, max_tasks=10_000)
            now_ms = int(time.time() * 1000)
            for t in TABLES:
                maintenance.expire_snapshots(a.table(DB, t), older_than_ms=now_ms)
                maintenance.remove_orphan_files(a.table(DB, t))
        self.cron.append(time.perf_counter() - t0)
        self.phase = "ingest"

        rewritten = 0
        for task in (a.tasks.get(p.id) for p in planned):
            ok = task.status == tasks.SUCCESS
            ctx.op(ok, f"task {task.kind} {task.table}: {task.status} {task.error_message}")
            if ok:
                rewritten += int(task.result.get("procedure", {})
                                 .get("rewritten_data_files_count", 0))
        for t in TABLES:
            rows = a.table(DB, t).count_rows()[0]
            ctx.op(rows == self.committed[t], f"count_rows {t}: {rows} != {self.committed[t]}")
        live_after = sum(len(a.table(DB, t).live_files()) for t in TABLES)
        if rewritten:
            ctx.op(live_after < live_before,
                   f"live files did not fall after compaction: {live_before} -> {live_after}")
        return {"planned": len(planned), "rewritten": rewritten}
