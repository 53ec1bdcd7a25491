"""The admin UI session of the admin_plane workload: one admin browsing
the ingest tables over HTTP while they are written and maintained."""

from __future__ import annotations

import threading
import time

from common import Client, Ctx
from ingest import DB, TABLES, Ingest

# a cached read that overlaps refresh_all fails with one of these (a known
# defect, see README.md): a data file or, while Spark reads the parquet
# footers, a footer file vanished, or the cache is briefly empty. It is
# retried after this pause
RACE_MARKERS = ("FILE_NOT_EXIST", "FileNotFoundException", "refresh first")
RACE_RETRY_S = 0.2


class Stopped(Exception):
    """The session's stop event was set; it ends before its next request."""


class Session:
    """browse tables → table summary → describe → drilldown every partition
    level → files of the chosen partition → live snapshots → live
    partitions → cached partitions → integrity → task page.

    The tables change under the session, so each consistency check runs
    only when nothing it compares changed in between: record counts while
    no append committed (``Ingest.rows_version``), cached rows while no
    refresh ran (``Ingest.cache_version``), integrity while nothing at all
    committed or expired (``Ingest.version``). Skipped checks are counted.

    A cached read that overlaps ``refresh_all`` fails, because the refresh
    overwrites the cache files being read (see README.md). Such a failure
    is recorded in ``Ingest.races`` with its cause and the read is retried,
    as an admin UI would; the retries count in the request's latency. Any
    other failed read is a failed operation."""

    def __init__(self, ctx: Ctx, client: Client, ing: Ingest, rng, start: int):
        self.ctx, self.client, self.ing, self.rng = ctx, client, ing, rng
        self.latencies: list[tuple[str, float]] = []  # (phase, seconds)
        self.checked = self.skipped = 0
        self.stop = threading.Event()
        # sessions alternate between the tables, from table ``start``, so
        # every run browses the same mix; the seed picks the partitions
        self.order = TABLES[start:] + TABLES[:start]
        self.turn = 0

    def _req(self, method, path, body=None, keys=(), cached=False):
        if self.stop.is_set():
            raise Stopped
        trace = self.ctx.tracer.new_trace("req") if self.ctx.tracer.recording else None
        phase = self.ing.phase
        t0 = time.perf_counter()
        while True:
            cache_v = self.ing.cache_version
            try:
                status, payload, _, _ = self.client.call(method, path, body, trace)
            except Exception as ex:  # noqa: BLE001 — a broken request is a failed op
                self.ctx.op(False, f"{method} {path}: {type(ex).__name__}: {ex}")
                return None
            raced = (cached and status != 200 and not self.ing.unchanged("cache_version", cache_v)
                     and any(m in str(payload) for m in RACE_MARKERS))
            if not raced:
                break
            self.ing.races.append(f"{method} {path}: status {status} {str(payload)[:300]}")
            time.sleep(RACE_RETRY_S)
        self.latencies.append((phase, time.perf_counter() - t0))
        ok = status == 200 and all(k in payload for k in keys)
        self.ctx.op(ok, f"{method} {path}: status {status} {str(payload)[:200]}")
        return payload if ok else None

    def _check(self, valid: bool, ok: bool, what: str) -> None:
        """Count one consistency check; ``valid`` is false when the data it
        compares may have changed between the requests."""
        if not valid:
            self.skipped += 1
            return
        self.checked += 1
        if not ok:
            self.ctx.fail(what)

    def poll_once(self) -> None:
        """The cached routes only: browse tables, a table summary, cached
        partitions and task counts."""
        self._req("GET", f"/api/browse/{DB}/tables", keys=("tables",), cached=True)
        self._req("GET", f"/api/browse/{DB}/events_a", keys=("record_count",), cached=True)
        self._req("GET", f"/api/metadata/{DB}/events_a/partitions", cached=True)
        self._req("GET", "/api/tasks/counts", keys=("queued",))

    def run_once(self) -> None:
        ing = self.ing
        t = self.order[self.turn % len(self.order)]
        self.turn += 1
        base = f"/api/browse/{DB}/{t}"
        listing = self._req("GET", f"/api/browse/{DB}/tables", keys=("tables",), cached=True)
        if listing is not None:
            self._check(True, len(listing["tables"]) == len(TABLES),
                        f"browse tables: {len(listing['tables'])} rows")
        cache_v = ing.cache_version
        summary = self._req("GET", base, keys=("record_count", "file_count"), cached=True)
        desc = self._req("GET", f"/api/iceberg/{DB}/{t}", keys=("columns", "partitions"))
        if desc is not None and summary is not None:
            fields = desc["partitions"]  # year, month, day (+ identity fields)
            selected: dict[str, str] = {}
            rows_v = ing.rows_version
            # the root level equals the summary when the cache is current
            expect = summary["record_count"] if ing.cache_rows_version == rows_v else None
            for field in fields:
                level = self._req("POST", f"{base}/partitions", {"partitions": selected},
                                  keys=("partitions",))
                if level is None:
                    break
                rows = level["partitions"]
                got = sum(r["record_count"] for r in rows)
                self._check(expect is not None and ing.unchanged("rows_version", rows_v),
                            got == expect,
                            f"drilldown {t} {selected}: Σrecord_count {got} != {expect}")
                if not rows:
                    break
                pick = rows[int(self.rng.integers(len(rows)))]
                selected[field] = pick["name"]
                expect = pick["record_count"]
            if len(selected) == len(fields):
                files = self._req("POST", f"{base}/files", {"partitions": selected},
                                  keys=("files",))
                if files is not None:  # a live partition never loses its last file
                    self._check(True, len(files["files"]) > 0, f"files {t} {selected}: empty")
        self._req("GET", f"/api/iceberg/{DB}/{t}/snapshots", keys=("snapshots",))
        self._req("GET", f"/api/iceberg/{DB}/{t}/partitions", keys=("partitions",))
        cached = self._req("GET", f"/api/metadata/{DB}/{t}/partitions", cached=True)
        if cached is not None and summary is not None:
            got = sum(r["record_count"] for r in cached)
            self._check(ing.unchanged("cache_version", cache_v), got == summary["record_count"],
                        f"cached partitions {t}: Σ {got} != {summary['record_count']}")
        v = ing.version
        integ = self._req("GET", f"/api/integrity/{DB}/{t}", keys=("missing_file_count",))
        if integ is not None:
            self._check(ing.unchanged("version", v), integ["missing_file_count"] == 0,
                        f"integrity {t}: {integ}")
        self._req("GET", "/api/tasks?limit=20", keys=("tasks", "total"))
