"""Which layer each per-layer metric belongs to, which end-to-end figures
it should move, and on which workload.  ``BENCHMARK.json`` lists the
metric names and units; this table is the part its fixed format cannot
carry.  ``moves`` names the bounded ``cpu_s``/``op_s``/``setup_s`` and the
wall-clock figures of the workload's report line.

A traced run of either workload measures every layer (it also drives the
other workload's layers, see ``run.py``); ``on`` names the workloads whose
operations call the layer, i.e. where the layer can move the end-to-end
figures.  On the other workload the prediction is no change.
"""

from __future__ import annotations

SOURCES = ("avito", "jumia", "electroplanet")
# One query of each band; q202 runs the pair engine end to end (ppjoin,
# components, representatives).
REGISTRY_GROUPS = {
    "pair_engine": ("q202",),
    "graph_loop": ("q114",),
    "rank_corpus": ("q188",),
    "relational": ("q81",),
    "etl_band": ("q01",),
}
REGISTRY_IDS = tuple(q for qs in REGISTRY_GROUPS.values() for q in qs)

DAG = "dag_daily"
REG = "registry_hot"


def _m(name, unit, better, layer, moves, on):
    return name, {"unit": unit, "better": better, "layer": layer, "moves": moves, "on": on}


def _metrics():
    yield _m("session.jvm_heap_peak_mb", "MB", "lower", "session", ["setup_s"], [DAG, REG])
    e2e_dag = ["cpu_s", "op_s", "time_to_report_s"]
    for s in SOURCES:
        yield _m(f"sources.{s}.read_s", "s", "lower", "sources", e2e_dag, [DAG])
        yield _m(f"sources.{s}.partitions", "count", "higher", "sources", e2e_dag, [DAG])
    yield _m("sources.corrupt_rows", "count", "lower", "sources", e2e_dag, [DAG])
    for s in SOURCES:
        for k, unit in (("transform_s", "s"), ("cpu_ms", "ms"), ("max_task_share", "ratio")):
            yield _m(f"adapters.{s}.{k}", unit, "lower", "adapters", e2e_dag, [DAG])
    for k, unit, better in (
        ("merge_products_s", "s", "lower"), ("offers_in", "count", "lower"),
        ("offers_out", "count", "lower"), ("products_out", "count", "lower"),
        ("dedup_ratio", "ratio", "lower"), ("shuffle_write_bytes", "bytes", "lower"),
        ("max_task_share", "ratio", "lower"),
    ):
        yield _m(f"merge.{k}", unit, better, "operators.merge", e2e_dag, [DAG])
    for k, unit in (
        ("stats.dataset_statistics_s", "s"), ("stats.brand_distribution_s", "s"),
        ("stats.render_report_s", "s"), ("anomaly.analysis_s", "s"),
        ("anomaly.groups", "count"), ("anomaly.flagged", "count"),
    ):
        yield _m(k, unit, "lower", "operators.stats", e2e_dag, [DAG])
    for k, unit in (
        ("json_products_s", "s"), ("csv_offers_s", "s"), ("backup_s", "s"), ("mongo_s", "s"),
        ("bytes_written", "bytes"), ("write_amp", "ratio"),
    ):
        yield _m(f"sinks.{k}", unit, "lower", "sinks", e2e_dag, [DAG])
    for t in ("etl", "report", "jdbc", "mongo", "backup"):
        yield _m(f"dags.task_{t}_s", "s", "lower", "dags", e2e_dag, [DAG])
    yield _m("dags.run_etl_calls", "count", "lower", "dags", e2e_dag, [DAG])
    yield _m("dags.raw_scans", "count", "lower", "dags", e2e_dag, [DAG])
    for k, unit in (
        ("trigger_s", "s"), ("add_batch_s", "s"), ("planning_s", "s"), ("start_stop_s", "s"),
        ("input_rows", "count"), ("catalog_rows", "count"), ("bytes_rewritten", "bytes"),
    ):
        # measured by a catch-up cycle in dag_daily's traced probe only: no
        # listed workload's operations stream, so no end-to-end figure moves
        yield _m(f"streaming.{k}", unit, "lower", "streaming", [], [])
    e2e_reg = ["cpu_s", "op_s", "registry_geomean_s"]
    for q in REGISTRY_IDS:
        for k, unit in (("wall_s", "s"), ("cpu_ms", "ms"), ("offcpu_ms", "ms"),
                        ("shuffle_bytes", "bytes"), ("tasks", "count")):
            yield _m(f"registry.{q}.{k}", unit, "lower", "registry", e2e_reg, [REG])
    for g in REGISTRY_GROUPS:
        yield _m(f"registry.{g}_s", "s", "lower", "registry", e2e_reg, [REG])
    yield _m("trace.overhead_s", "s", "lower", "tracing", ["cpu_s", "op_s"], [DAG, REG])


PER_LAYER: dict[str, dict] = dict(_metrics())
