"""pipeline_batch: one client runs a fixed list of LLM-data-pipeline and
relational operator queries — a cold pass (first touch builds the
indexes), then a fixed number of warm passes. The admin plane is idle.
Each query's result is checked against its DuckDB oracle once per run,
untimed, and every warm result must equal the cold one (floats within
``common.REL_TOL``)."""

from __future__ import annotations

import time

from common import SETUP_REPEATS, Ctx, results_match, scaled
from oracle_check import run_oracle
from stats import median, percentile

# one per operator module plus the index builders. A run must stay short,
# so further queries of a module are left out: pricing_summary,
# dedup_exact, prefix_filter_jaccard_pairs, ann_topk_cosine, text_quality,
# and hnsw_search, whose first touch alone takes 10-20 s on 4 cores;
# knn_graph stands in for graph_ann
QUERIES = [
    "revenue_by_nation",
    "minhash_near_dup",
    "ann_ivf_pq_rerank",
    "embedding_lsh_near_dup",
    "knn_graph",
    "token_frequencies",
    "bm25_topk",
    "curation_pipeline",
]
# queries whose first touch builds an index (MinHash bands, IVF-PQ
# codebooks, LSH buckets, the exact k-NN edge index)
INDEX_QUERIES = ["minhash_near_dup", "ann_ivf_pq_rerank", "embedding_lsh_near_dup", "knn_graph"]
DATA = dict(sf=0.003, events=2_000, event_days=30, documents=500, embeddings=500)
WARM_PASSES = 1  # per 10 s of --seconds


def _module(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


def run_query(ctx: Ctx, spec, data_dir: str, phase: str):
    """Run one query to completion; returns (seconds, columns, rows)."""
    with ctx.tracer.span(f"operators.{_module(spec)}.{spec.name}", jobs=True, phase=phase,
                         trace=ctx.tracer.new_trace("query") if ctx.tracer.recording else None):
        t = time.perf_counter()
        df = spec.fn(ctx.spark, data_dir)
        rows = df.collect()
        return time.perf_counter() - t, df.columns, rows


def warm_loop(ctx: Ctx, specs, data_dir: str, cold: dict) -> dict:
    """A fixed number of whole warm passes."""
    lat: dict[str, list[float]] = {s.name: [] for s in specs}
    passes: list[float] = []
    t0 = time.perf_counter()
    for _ in range(scaled(WARM_PASSES, ctx.seconds)):
        tp = time.perf_counter()
        for spec in specs:
            try:
                secs, cols, rows = run_query(ctx, spec, data_dir, "warm")
            except Exception as ex:  # noqa: BLE001 — a query error is a failed op
                ctx.op(False, f"{spec.name}: {type(ex).__name__}: {ex}")
                continue
            ok = spec.name in cold and results_match(cols, rows, *cold[spec.name])
            ctx.op(ok, f"{spec.name}: warm result differs from the cold pass")
            lat[spec.name].append(secs)
        passes.append(time.perf_counter() - tp)
    return {"lat": lat, "passes": passes, "elapsed": time.perf_counter() - t0}


def oracle_check(ctx: Ctx, spec, data_dir: str, cols, rows) -> None:
    ocols, orows = run_oracle(spec.oracle, data_dir)
    ok = results_match(ocols, orows, cols, rows)
    ctx.op(ok, f"{spec.name}: result differs from its DuckDB oracle "
               f"({len(rows)} rows vs {len(orows)})")


def run(ctx: Ctx) -> dict:
    import datagen
    from lakehouse_admin_spark import registry
    from lakehouse_admin_spark.sources.tables import TABLES, load_table

    data_dir = ctx.path("data")
    ctx.info["rows"] = datagen.write_dataset(data_dir, ctx.seed, **DATA)
    # set-up: load the operators and scan every table once, repeated
    setups = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        registry.load_all_operators()
        for name in TABLES:
            load_table(ctx.spark, data_dir, name).count()
        setups.append(time.perf_counter() - t)
    specs = [registry.QUERIES[q] for q in QUERIES]

    # cold pass (first touch, index builds included), then the warm passes;
    # both traced in a traced run
    ctx.tracer.recording = ctx.traced
    try:
        cold, cold_rows = {}, {}
        for spec in specs:
            try:
                secs, cols, rows = run_query(ctx, spec, data_dir, "cold")
            except Exception as ex:  # noqa: BLE001 — a query error is a failed op
                ctx.op(False, f"{spec.name} (cold): {type(ex).__name__}: {ex}")
                continue
            ctx.op(True, spec.name)
            cold[spec.name] = secs
            cold_rows[spec.name] = (cols, rows)
        res = warm_loop(ctx, specs, data_dir, cold_rows)
    finally:
        ctx.tracer.recording = False

    for spec in specs:  # untimed: each query once against its oracle
        if spec.name in cold_rows and spec.oracle:
            oracle_check(ctx, spec, data_dir, *cold_rows[spec.name])

    lat = [x for xs in res["lat"].values() for x in xs]
    ctx.info["samples"] = {"warm_queries": len(lat), "warm_passes": len(res["passes"])}
    if ctx.traced:
        return {"layers": pipeline_layers(ctx, specs, cold, res)}
    return {
        "setup_s": median(setups),
        "op_p50_ms": median(lat) * 1000,
        "op_p90_ms": percentile(lat, 90) * 1000,
        "ops_per_s": len(lat) / res["elapsed"],
        "cycle_s": median(res["passes"]),
    }


def pipeline_layers(ctx: Ctx, specs, cold: dict, warm: dict) -> dict:
    tr = ctx.tracer
    tr.finish()
    warm_spans = [sp for sp in tr.spans
                  if sp["name"].startswith("operators.") and sp["attrs"].get("phase") == "warm"]
    layers: dict[str, float] = {}
    for module in sorted({_module(s) for s in specs}):
        mine = [s for s in specs if _module(s) == module]
        # serve: median warm wall per query of the module, from the trace
        walls = [sp["end"] - sp["start"] for sp in warm_spans
                 if sp["name"].startswith(f"operators.{module}.")]
        layers[f"operators.{module}.serve_s"] = median(walls)
        # build: what the first touch cost beyond a warm call
        layers[f"operators.{module}.build_s"] = sum(
            cold.get(s.name, 0.0) - median(warm["lat"][s.name]) for s in mine)
    layers["operators.index_build_s"] = sum(cold.get(q, 0.0) for q in INDEX_QUERIES)
    n = max(len(warm_spans), 1)
    layers["operators.spark_jobs_per_query"] = sum(sp.get("jobs", 0) for sp in warm_spans) / n
    layers["operators.spark_tasks_per_query"] = sum(sp.get("tasks", 0) for sp in warm_spans) / n
    layers["trace.op_p50_ms"] = median([x for xs in warm["lat"].values() for x in xs]) * 1000
    return layers
