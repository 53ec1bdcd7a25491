"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, its parent span and a trace id (one
trace per browse request, per ingest round, per operator query). Spans
nest through a per-thread stack; a span opened on a thread with an empty
stack joins ``ambient`` (the workload's current trace), so task-pool
threads attach to the maintenance round that spawned them. HTTP requests
carry their trace and parent span in ``X-Trace-Id`` / ``X-Parent-Span``
headers, read by the wrapped server dispatch.

Spans that set ``jobs=True`` run under their own Spark job group
(``SparkContext.setJobGroup`` is per thread in PySpark's pinned-thread
mode); their job and task counts are read from the status tracker once
the listener bus has drained, when the run ends. A job counts for the
innermost such span of its thread.

``instrument`` wraps the package's public functions at each import site
for the length of a traced run; untraced runs never call it.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from stats import median, percentile


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.recording = False
        self.spans: list[dict] = []
        self.finished = False
        self.ambient: tuple[str | None, int | None] = (None, None)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def new_trace(self, kind: str) -> str:
        return f"{kind}-{next(self._ids)}"

    def current(self) -> tuple[str | None, int | None]:
        st = self._stack()
        return (st[-1]["trace"], st[-1]["id"]) if st else self.ambient

    @contextmanager
    def span(self, name: str, trace: str | None = None, parent: int | None = None,
             jobs: bool = False, **attrs):
        """Record one span; yields its attrs dict (or None when not
        recording) so callers can attach results."""
        if not self.recording:
            yield None
            return
        t_open = time.perf_counter()
        st = self._stack()
        if trace is None:
            trace, inherited = self.current()
            parent = parent if parent is not None else inherited
        elif parent is None and st and st[-1]["trace"] == trace:
            parent = st[-1]["id"]
        sp = {"id": next(self._ids), "name": name, "trace": trace, "parent": parent,
              "thread": threading.get_ident(), "attrs": dict(attrs)}
        prev_group = None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            sp["job_group"] = f"perfbench-{sp['id']}"
            self.sc.setJobGroup(sp["job_group"], name)
        st.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp["attrs"]
        except BaseException as ex:
            sp["attrs"]["error"] = f"{type(ex).__name__}: {ex}"
            raise
        finally:
            sp["end"] = time.perf_counter()
            st.pop()
            if "job_group" in sp:
                if prev_group:
                    self.sc.setJobGroup(prev_group, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)
            # the tracer's own time on this call path: opening and closing
            # the span, job group switches included
            sp["overhead_s"] = (sp["start"] - t_open) + (time.perf_counter() - sp["end"])

    # ------------------------------------------------------------------
    def finish(self) -> None:
        """Resolve job counts and self times once recording is over."""
        if not self.finished:
            self.resolve_job_counts()
            self.self_times()
            self.finished = True

    def resolve_job_counts(self) -> None:
        """Fill ``jobs``/``tasks`` of every job-counted span, after the
        listener bus has delivered every job event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            group = sp.get("job_group")
            if not group:
                continue
            job_ids = tracker.getJobIdsForGroup(group)
            tasks = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            sp["jobs"], sp["tasks"] = len(job_ids), tasks

    def self_times(self) -> None:
        """Set ``self_s`` on every span: its duration minus the part of
        its interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            children.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            covered, cursor = 0.0, sp["start"]
            for ch in sorted(children.get(sp["id"], []), key=lambda c: c["start"]):
                lo, hi = max(ch["start"], cursor), min(ch["end"], sp["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            sp["self_s"] = (sp["end"] - sp["start"]) - covered

    def overhead_frac(self) -> float:
        """The tracer's own time in every span over the wall of the root
        spans (requests, rounds, queries)."""
        roots = sum(sp["end"] - sp["start"] for sp in self.spans if sp["parent"] is None)
        return sum(sp["overhead_s"] for sp in self.spans) / roots if roots else 0.0

    def by_name(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]

    def p50_s(self, name: str) -> float:
        return median([sp["end"] - sp["start"] for sp in self.by_name(name)])

    def span_metrics(self, names: list[str]) -> dict[str, float]:
        """For every metric ``<span name>_ms`` or ``<span name>_s`` in
        ``names`` whose span was recorded: the p50 span duration."""
        out = {}
        for name in names:
            stem, _, unit = name.rpartition("_")
            if unit in ("ms", "s") and self.by_name(stem):
                out[name] = self.p50_s(stem) * (1000 if unit == "ms" else 1)
        return out

    def http_metrics(self) -> dict[str, float]:
        """Server and engine metrics of the recorded HTTP requests: the
        request wall minus its engine call, the reply size, and Spark
        jobs and tasks per engine call."""
        requests = self.by_name("http.request")
        if not requests:
            return {}
        engine = [sp for sp in self.spans if sp["name"].startswith("engine.")]
        in_engine: dict = {}
        for sp in engine:
            in_engine[sp["trace"]] = in_engine.get(sp["trace"], 0.0) + sp["end"] - sp["start"]
        calls = max(len(engine), 1)
        return {
            "server.dispatch_ms": median([sp["end"] - sp["start"] - in_engine.get(sp["trace"], 0.0)
                                          for sp in requests]) * 1000,
            "server.response_bytes": median([sp["attrs"].get("bytes", 0) for sp in requests]),
            "engine.spark_jobs_per_call": sum(sp.get("jobs", 0) for sp in engine) / calls,
            "engine.spark_tasks_per_call": sum(sp.get("tasks", 0) for sp in engine) / calls,
        }

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, p50/p90 of duration and self time."""
        out: dict[str, dict] = {}
        for name in sorted({sp["name"] for sp in self.spans}):
            group = self.by_name(name)
            durs = [sp["end"] - sp["start"] for sp in group]
            selfs = [sp["self_s"] for sp in group]
            out[name] = {
                "calls": len(group),
                "p50_ms": median(durs) * 1000,
                "p90_ms": percentile(durs, 90) * 1000,
                "self_p50_ms": median(selfs) * 1000,
                "self_total_s": sum(selfs),
            }
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((sp["start"] for sp in self.spans), default=0.0)
        spans = [
            {**{k: v for k, v in sp.items() if k not in ("start", "end", "thread")},
             "start_ms": (sp["start"] - t0) * 1000, "end_ms": (sp["end"] - t0) * 1000}
            for sp in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "summary": self.summary(), "spans": spans}, fh, default=str)


# ----------------------------------------------------------------------
# wrapping the package's public functions
# ----------------------------------------------------------------------

def _wrap(tracer: Tracer, fn, name: str, jobs: bool = False, result_attrs=None):
    def wrapper(*args, **kwargs):
        with tracer.span(name, jobs=jobs) as attrs:
            out = fn(*args, **kwargs)
            if attrs is not None and result_attrs is not None:
                attrs.update(result_attrs(out))
            return out

    wrapper.__wrapped__ = fn
    return wrapper


class Patches:
    """Attribute replacements, undone by ``restore``."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        for owner, attr, old in reversed(self._saved):
            setattr(owner, attr, old)
        self._saved.clear()


def _maintenance_attrs(out: dict) -> dict:
    return {k: v for k, v in out.items() if isinstance(v, int)}


def instrument(tracer: Tracer) -> Patches:
    """Wrap the admin-plane layers at every site that binds them.

    - ``engine`` calls ``md.*`` and ``tasks`` calls ``maintenance.*``
      through the module, so the module attributes are replaced;
    - ``cache`` binds ``partitions_df``/``snapshots_df`` and ``engine``
      binds ``integrity_report`` by name, so those names are replaced in
      the importing module too;
    - ``tasks.plan_optimize_tasks`` imports ``partitions_df`` at call
      time from ``metadata``, which the module patch covers.
    """
    from lakehouse_admin_spark import cache, engine, maintenance, metadata, tasks
    from lakehouse_admin_spark.sources import ledger

    p = Patches()
    for fn_name in ("partitions_df", "snapshots_df", "drilldown", "list_files"):
        wrapped = _wrap(tracer, getattr(metadata, fn_name), f"metadata.{fn_name}")
        p.set(metadata, fn_name, wrapped)
        if hasattr(cache, fn_name):
            p.set(cache, fn_name, wrapped)
    p.set(engine, "integrity_report", _wrap(tracer, engine.integrity_report, "integrity.report"))
    for m in ("table_summaries", "cached", "refresh_table", "refresh_all"):
        p.set(cache.MetadataCache, m, _wrap(tracer, getattr(cache.MetadataCache, m), f"cache.{m}"))
    p.set(ledger.LedgerTable, "append", _wrap(
        tracer, ledger.LedgerTable.append, "ledger.append", jobs=True,
        result_attrs=lambda snap: {
            "files": len(snap.added),
            "bytes": sum(e["file_size_in_bytes"] for e in snap.added),
        },
    ))
    for m in ("live_files", "commit_rewrite"):
        p.set(ledger.LedgerTable, m, _wrap(tracer, getattr(ledger.LedgerTable, m), f"ledger.{m}"))
    for fn_name in ("rewrite_data_files", "expire_snapshots", "remove_orphan_files"):
        p.set(maintenance, fn_name, _wrap(
            tracer, getattr(maintenance, fn_name), f"maintenance.{fn_name}",
            result_attrs=_maintenance_attrs,
        ))
    p.set(tasks, "execute_task", _wrap(
        tracer, tasks.execute_task, "tasks.execute_task",
        result_attrs=lambda t: {
            "kind": t.kind,
            "status": t.status,
            "queue_wait_s": (t.picked_up_at - t.started_at).total_seconds(),
            "rewritten": int(t.result.get("procedure", {}).get("rewritten_data_files_count", 0)),
        },
    ))
    return p


# route → facade method name, matched against the server's own route
# table in its dispatch order (first match wins, as in the server)
ROUTE_SAMPLES = [
    ("GET", "/api/browse/db/tables", "list_tables_with_summaries"),
    ("GET", "/api/browse/db/t", "table_summary"),
    ("GET", "/api/iceberg/db/t", "describe"),
    ("POST", "/api/browse/db/t/partitions", "drilldown"),
    ("POST", "/api/browse/db/t/files", "list_partition_files"),
    ("GET", "/api/iceberg/db/t/snapshots", "snapshots"),
    ("GET", "/api/iceberg/db/t/partitions", "partitions"),
    ("GET", "/api/metadata/db/t/partitions", "cached_partitions"),
    ("GET", "/api/metadata/db/t/snapshots", "cached_snapshots"),
    ("GET", "/api/integrity/db/t", "integrity"),
    ("GET", "/api/tasks", "tasks_list"),
]


def instrument_server(tracer: Tracer, server, patches: Patches) -> None:
    """Wrap one running ``AdminHTTPServer``: the request handler's
    dispatch (``server.dispatch``, joined to the client's trace through
    the request headers) and each route's facade call, including the
    collect of the DataFrame it returns (``engine.<method>``)."""
    for method, path, facade in ROUTE_SAMPLES:
        route = next(r for r in server.routes if r.method == method and r.pattern.match(path))
        # takes_query was read from the original signature at route
        # construction; the wrapper forwards ``query`` untouched
        patches.set(route, "fn", _wrap(tracer, route.fn, f"engine.{facade}", jobs=True))

    handler = server._httpd.RequestHandlerClass
    dispatch = handler._dispatch

    def traced_dispatch(self, method):
        parent = self.headers.get("X-Parent-Span")
        with tracer.span("server.handle", trace=self.headers.get("X-Trace-Id"),
                         parent=int(parent) if parent else None):
            dispatch(self, method)

    patches.set(handler, "_dispatch", traced_dispatch)
