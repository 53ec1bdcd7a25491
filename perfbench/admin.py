"""admin_plane: the admin plane under its daily load, in two phases. First
two closed-loop admin UI clients browse two ledger tables over HTTP; then
an open-loop writer commits micro-batches into them, each ingest phase
followed by the cron pair (refresh_all, maintenance cycle + worker pool,
expire_snapshots, remove_orphan_files), while a poller reads the cached
routes. No operators run."""

from __future__ import annotations

import os
import threading
import time

from browse import Session, Stopped
from common import SETUP_REPEATS, Client, Ctx, scaled
from ingest import DB, TABLES, Ingest, make_batches
from stats import median, percentile

CLIENTS = 2
# work per 10 s of --seconds: whole admin UI sessions per client in the
# browse phase, and rounds (ingest phase + cron pair) in the write phase
SESSIONS_PER_CLIENT = 1
ROUNDS = 2


def _poll(poller: Session) -> threading.Thread:
    """Poll the cached routes until the poller's stop event is set."""
    def loop() -> None:
        try:
            while True:
                poller.poll_once()
        except Stopped:
            pass

    th = threading.Thread(target=loop)
    th.start()
    return th


def _browse(ctx: Ctx, ing: Ingest, server, n: int) -> tuple[list[Session], float]:
    """``CLIENTS`` sessions run ``n`` whole admin UI sessions each, all
    concurrently; a traced and an untraced run of one seed send the same
    requests. Returns the sessions and the wall."""
    sessions = [Session(ctx, Client(server.port, ctx.tracer), ing, ctx.rng(100 + c), start=c)
                for c in range(CLIENTS)]
    threads = [threading.Thread(target=lambda s=s: [s.run_once() for _ in range(n)])
               for s in sessions]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return sessions, time.perf_counter() - t0


def measure(ctx: Ctx, ing: Ingest, server) -> dict:
    """Two phases, traced in a traced run. Browse: nothing is written; each
    client runs a fixed number of whole sessions. Write: a fixed number of
    rounds run in this thread while the first browse session polls the
    cached routes."""
    out: dict = {}
    ctx.tracer.recording = ctx.traced
    try:
        sessions, out["browse_elapsed"] = _browse(
            ctx, ing, server, scaled(SESSIONS_PER_CLIENT, ctx.seconds))
        out["browse"] = [x for s in sessions for _, x in s.latencies]
        out["sessions"] = sessions

        poller = sessions[0]
        poller.latencies = []
        user_bytes0 = ing.user_bytes
        th = _poll(poller)
        out["planned"], out["round_walls"] = [], []
        try:
            for _ in range(scaled(ROUNDS, ctx.seconds)):
                t = time.perf_counter()
                trace = ctx.tracer.new_trace("round") if ctx.traced else None
                with ctx.tracer.span("round.ingest", trace=trace):
                    ing.ingest_phase()
                with ctx.tracer.span("round.maintenance", trace=trace):
                    ctx.tracer.ambient = ctx.tracer.current()
                    out["planned"].append(ing.cron_pair())
                    ctx.tracer.ambient = (None, None)
                out["round_walls"].append(time.perf_counter() - t)
        finally:
            poller.stop.set()
            th.join()
    finally:
        ctx.tracer.recording = False
    out["polls"] = list(poller.latencies)
    out["user_bytes"] = ing.user_bytes - user_bytes0
    return out


def build(ctx: Ctx, i: int, batches: list[dict]):
    """The set-up: a fresh warehouse and tables, refresh_all while they are
    empty (the known KeyError), one bootstrap commit per table,
    refresh_all, server start. Returns (ingest, server, seconds, outcome of
    the empty refresh)."""
    from lakehouse_admin_spark.server import AdminHTTPServer

    t = time.perf_counter()
    ing = Ingest(ctx, ctx.path(f"wh{i}"), ctx.path(f"state{i}"), batches)
    empty_refresh = ing.probe_empty_refresh()
    ing.bootstrap()
    ing.refresh()
    server = AdminHTTPServer(ing.admin).start()
    return ing, server, time.perf_counter() - t, empty_refresh


def run(ctx: Ctx) -> dict:
    batches = make_batches(ctx, ctx.path("batches"))
    ctx.info["batch_rows"] = [min(b["rows"] for b in batches), max(b["rows"] for b in batches)]
    setups, known, server = [], set(), None
    try:
        for i in range(SETUP_REPEATS):
            if server is not None:
                server.stop()
                server = None
            ing, server, secs, empty_refresh = build(ctx, i, batches)
            setups.append(secs)
            known.add(empty_refresh)
        if ctx.traced:
            from tracing import instrument, instrument_server

            patches = instrument(ctx.tracer)
            instrument_server(ctx.tracer, server, patches)
            try:
                res = measure(ctx, ing, server)
            finally:
                patches.restore()
        else:
            res = measure(ctx, ing, server)
    finally:
        if server is not None:
            server.stop()

    lat = res["browse"]
    ctx.info["known_issues"] = {
        "refresh_all_on_empty_warehouse": sorted(known),
        "cached_reads_failed_beside_refresh_all": len(ing.races),
        "first_such_failure": ing.races[0] if ing.races else None,
    }
    ctx.info["walls_s"] = {"setups": setups, "browse": res["browse_elapsed"],
                           "rounds": res["round_walls"]}
    ctx.info["samples"] = {
        "requests": len(lat), "polls": len(res["polls"]), "appends": len(ing.lat),
        "rounds": len(ing.cron), "checks": sum(s.checked for s in res["sessions"]),
        "checks_skipped_as_racing": sum(s.skipped for s in res["sessions"]),
    }
    if ctx.traced:
        return {"layers": layers(ctx, ing, res)}
    return {
        "setup_s": median(setups),
        "op_p50_ms": median(lat) * 1000,
        "op_p90_ms": percentile(lat, 90) * 1000,
        "ops_per_s": len(lat) / res["browse_elapsed"],
        "cycle_s": median(ing.cron),
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def layers(ctx: Ctx, ing: Ingest, res: dict) -> dict:
    """Per-layer metrics that are not a plain span p50 (those come from
    ``Tracer.span_metrics`` and ``Tracer.http_metrics``)."""
    tr = ctx.tracer
    tr.finish()
    appends = tr.by_name("ledger.append")
    execs = tr.by_name("tasks.execute_task")
    rewrites = tr.by_name("maintenance.rewrite_data_files")
    rounds = max(len(res["planned"]), 1)
    by_phase = {ph: [s for p, s in res["polls"] if p == ph] for ph in ("ingest", "maintenance")}
    data_bytes = sum(_dir_bytes(os.path.join(ing.admin.catalog.warehouse, DB, t, "data"))
                     for t in TABLES)
    return {
        "ledger.append.spark_jobs": sum(sp.get("jobs", 0) for sp in appends) / max(len(appends), 1),
        "ledger.files_per_append": sum(sp["attrs"].get("files", 0) for sp in appends)
        / max(len(appends), 1),
        "ledger.bytes_written_per_user_byte": sum(sp["attrs"].get("bytes", 0) for sp in appends)
        / max(res["user_bytes"], 1),
        "warehouse.stored_bytes_per_user_byte": data_bytes / max(ing.user_bytes, 1),
        "maintenance.rewritten_bytes": sum(sp["attrs"].get("rewritten_bytes_count", 0)
                                           for sp in rewrites) / rounds,
        "maintenance.files_in_per_file_out":
            sum(sp["attrs"].get("rewritten_data_files_count", 0) for sp in rewrites)
            / max(sum(sp["attrs"].get("added_data_files_count", 0) for sp in rewrites), 1),
        "maintenance.foreground_stall_ms":
            (percentile(by_phase["maintenance"], 90) - percentile(by_phase["ingest"], 90)) * 1000,
        "tasks.planned": sum(p["planned"] for p in res["planned"]) / rounds,
        "tasks.queue_wait_s": median([sp["attrs"].get("queue_wait_s", 0.0) for sp in execs]),
        "tasks.failed": sum(1 for sp in execs if sp["attrs"].get("status") != "success"),
        "tasks.useful_frac": sum(1 for sp in execs if sp["attrs"].get("rewritten", 0) >= 1)
        / max(len(execs), 1),
        "loadgen.append_p50_ms": median(ing.lat) * 1000,
        "loadgen.append_p90_ms": percentile(ing.lat, 90) * 1000,
        "loadgen.late_ms_p90": percentile(ing.late, 90) * 1000,
        "cache.read_races": len(ing.races),
        "trace.op_p50_ms": median(res["browse"]) * 1000,
    }
