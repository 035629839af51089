"""The repository benchmark: one workload per call, closed loop, one client.

    python3 perfbench/run.py --workload dag_daily --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``dag_daily``, ``registry_hot``.  The
DAG's raw inputs are generated from ``--seed`` into a work dir inside the
checkout, which is removed at the end; the registry reads the test tables
shipped in ``perfbench/data``.

A run sets the session up (``setup_s``: session build, the workload's own
set-up and one checked warm-up operation), runs operations until
``--seconds`` have passed (at least the workload's ``min_ops``), checks
every operation's outputs, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The warm-up operation is where the JVM compiles most of the program and
starts its Python workers: half of a cold operation's CPU time is JIT
compilation, and it spreads 10-20% across runs on a shared 4-core host,
where a warm operation spreads 4-10%.  So the timed operations are warm
ones, and the cold one counts in set-up.  It warms every path the
workload takes, so no generic warm-up runs before it.

With ``--trace 0`` the metrics are the end-to-end ones: ``cpu_s`` and
``op_s``, the median CPU seconds of the whole process tree and the median
wall seconds per operation, and ``setup_s``.  Peak RSS and the workload's
own step latencies go to the report line only.

With ``--trace 1`` the session writes a Spark event log, every layer call
runs under its own job group, the workload's per-layer probes run after
the operations, then one traced operation and probe of the other listed
workload, so every layer is measured in every traced run; the metrics are
the per-layer ones of ``layers.PER_LAYER``, and the tracing overhead is
the CPU time of the event-log writer per operation of the workload.

The line before the last is a report with the workload's own metric
names, the failure ratio, per-operation samples and host calibration
samples.

Exits 2 without a result when the program is not importable.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402  (none of these imports the program)
from harness import Tracer, log, median  # noqa: E402

WORKLOAD_NAMES = tuple(workloads.WORKLOADS)


def _program_present() -> bool:
    if not (ROOT / "etl_marketeye_airflow_spark" / "__init__.py").is_file() or not (
        ROOT / "dags" / "marketeye_spark_dag.py"
    ).is_file():
        return False
    sys.path.insert(0, str(ROOT))
    try:
        import etl_marketeye_airflow_spark.session  # noqa: F401
    except ImportError:
        return False
    return True


def heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak usage since the JVM started."""
    jvm = spark.sparkContext._jvm
    total = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def run_ops(wl, seconds: float) -> tuple[int, list[str]]:
    """Closed loop: the next operation starts when the previous one returns.
    Runs at least ``wl.min_ops`` operations, so every run's figures are
    medians over the same operations."""
    attempted, failures = 0, []
    t_end = time.perf_counter() + seconds
    while attempted < wl.min_ops or time.perf_counter() < t_end:
        attempted += 1
        cpu0 = harness.tree_cpu_s()
        jit0 = harness.jit_compile_s(wl.spark) if wl.spark is not None else 0.0
        n_samples = len(wl.samples)
        bad = _checked(wl.op, "operation")
        if len(wl.samples) > n_samples:  # the operation ran to its end
            wl.samples[-1]["cpu_s"] = harness.tree_cpu_s() - cpu0
            if wl.spark is not None:
                wl.samples[-1]["jit_s"] = harness.jit_compile_s(wl.spark) - jit0
        if bad:
            failures.append(f"op {attempted}: " + "; ".join(bad))
    return attempted, failures


def _checked(step, label: str):
    """Run one operation or probe; an exception becomes a failure message."""
    try:
        return step()
    except Exception as e:  # noqa: BLE001 — a failed step is counted, not fatal
        traceback.print_exc()
        return [f"{label} raised {type(e).__name__}: {e}"]


def trace_other_layers(wl, work: Path, seed: int, spark, tracer) -> tuple[int, list[str]]:
    """One operation and the probe of every other listed workload, traced,
    so that each traced run measures every layer: a layer the workload
    never calls would otherwise read a constant 0.  Their layer figures
    join ``wl.layer``; their failures count like the workload's own."""
    attempted, failures = 0, []
    for cls in (workloads.DagDaily, workloads.RegistryHot):
        if isinstance(wl, cls):
            continue
        other = cls(work / f"other-{cls.name}", seed)
        other.prepare()
        other.spark, other.tracer = spark, tracer
        other.warm()
        restore = other.count_dag_calls() if hasattr(other, "count_dag_calls") else None
        attempted += 1
        bad = _checked(other.op, "operation")
        if restore is not None:
            calls = restore()
            other.record("dags.run_etl_calls", calls["run_etl"])
            other.record("dags.raw_scans", calls["read_source"])
        probe_bad = _checked(other.probe, "probe")
        if probe_bad is not None:
            attempted += 1
        if bad or probe_bad:
            failures.append(f"{cls.name}: " + "; ".join(bad + (probe_bad or [])))
        for k, v in other.layer.items():
            wl.layer.setdefault(k, v)
        harness.remove_tree(other.work)
    return attempted, failures


def per_layer_metrics(wl, tracer, events, tasks: dict, overhead_s: float, heap_mb: float) -> dict:
    vals = {name: 0.0 for name in layers.PER_LAYER}
    vals["session.jvm_heap_peak_mb"] = heap_mb
    vals["trace.overhead_s"] = overhead_s
    for name, xs in wl.layer.items():
        vals[name] = median(xs)

    def span_s(span: str) -> float:
        return median(tracer.spans[span]) if tracer.spans.get(span) else 0.0

    def ev(span: str) -> dict:
        groups = tracer.groups.get(span, [])
        agg = events.layer(groups)
        calls = max(1, len(groups))
        return {k: (v if k == "max_task_share" else v / calls) for k, v in agg.items()}

    # a "<span>_s" metric is the median duration of that span's calls
    for name in layers.PER_LAYER:
        if name.endswith("_s") and tracer.spans.get(name[:-2]):
            vals[name] = span_s(name[:-2])
    for s in layers.SOURCES:
        span = f"adapters.{s}.transform"
        if tracer.spans.get(span):
            e = ev(span)
            vals[f"adapters.{s}.cpu_ms"] = e.get("cpu_ms", 0.0)
            vals[f"adapters.{s}.max_task_share"] = e["max_task_share"]
    if tracer.spans.get("merge.merge_products"):
        e = ev("merge.merge_products")
        vals["merge.shuffle_write_bytes"] = e.get("shuffle_write_bytes", 0.0)
        vals["merge.max_task_share"] = e["max_task_share"]
    for q in layers.REGISTRY_IDS:
        span = f"registry.{q}"
        if tracer.spans.get(span):
            e = ev(span)
            vals[f"{span}.wall_s"] = span_s(span)
            vals[f"{span}.cpu_ms"] = e.get("cpu_ms", 0.0)
            vals[f"{span}.offcpu_ms"] = e.get("run_ms", 0.0) - e.get("cpu_ms", 0.0)
            vals[f"{span}.shuffle_bytes"] = e.get("shuffle_write_bytes", 0.0)
            vals[f"{span}.tasks"] = tasks[span] / len(tracer.groups[span])
    for g, qs in layers.REGISTRY_GROUPS.items():
        vals[f"registry.{g}_s"] = sum(vals[f"registry.{q}.wall_s"] for q in qs)
    return {name: {"value": vals[name], "unit": layers.PER_LAYER[name]["unit"]}
            for name in layers.PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print("perfbench: etl_marketeye_airflow_spark or dags/ not found next to perfbench/; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench-work" / f"{args.workload}-{os.getpid()}"
    harness.remove_tree(work)
    harness.configure_host(work)
    spark = None
    try:
        calib = [harness.calibration_sample()]
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        wl.prepare()

        t0 = time.perf_counter()
        spark = harness.build_session(work, event_log=bool(args.trace))
        wl.spark = spark
        wl.warm()
        # the cold operation, checked but not timed (see the module docstring)
        wl.tracer = Tracer(spark, enabled=False)
        warm_bad = _checked(wl.op, "warm-up operation")
        wl.samples.clear()
        setup_s = time.perf_counter() - t0
        pid = harness.jvm_pid(spark)

        tracer = Tracer(spark, enabled=bool(args.trace))
        wl.tracer = tracer
        restore = wl.count_dag_calls() if args.trace and hasattr(wl, "count_dag_calls") else None
        attempted, failures = run_ops(wl, args.seconds)
        if restore is not None:
            calls = restore()
            wl.record("dags.run_etl_calls", calls["run_etl"] / attempted)
            wl.record("dags.raw_scans", calls["read_source"] / attempted)
        attempted += 1
        if warm_bad:
            failures.insert(0, "warm-up op: " + "; ".join(warm_bad))
        overhead = None
        if args.trace:
            overhead = harness.event_log_cpu_s(spark) / attempted
            probe_failures = _checked(wl.probe, "probe")
            if probe_failures is not None:
                attempted += 1
            if probe_failures:
                failures.append("probe: " + "; ".join(probe_failures))
            a2, f2 = trace_other_layers(wl, work, args.seed, spark, tracer)
            attempted += a2
            failures += f2
        failures += wl.finish()

        calib.append(harness.calibration_sample())
        heap_mb = heap_peak_mb(spark)
        rss_mb = harness.peak_rss_mb(pid)
        e2e = wl.end_to_end()
        cpu = [x["cpu_s"] for x in wl.samples if "cpu_s" in x]
        jit = [x.get("jit_s", 0.0) for x in wl.samples if "cpu_s" in x]
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "operations": attempted,
            "failure_ratio": len(failures) / attempted,
            "failures": failures[:10],
            **wl.report(),
            "makespan_s": e2e["makespan_s"],
            "step_latency_s": e2e["step_latency_s"],
            "jit_compile_s": median(jit),
            "op_samples": wl.samples,
            "peak_rss_mb": rss_mb,
            "calibration": calib,
        }
        if args.trace:
            tasks = {span: tracer.tasks(span) for span in tracer.groups}
            spark.stop()
            spark = None
            events = harness.EventLog(work / "eventlog")
            report["eventlog_bytes"] = events.bytes
            report["eventlog_by_span"] = {
                span: dict(events.layer(groups)) for span, groups in tracer.groups.items()
            }
            metrics = per_layer_metrics(wl, tracer, events, tasks, overhead, heap_mb)
        else:
            metrics = {
                "cpu_s": {"value": median(cpu), "unit": "s"},
                "op_s": {"value": e2e["makespan_s"], "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
        for f in failures:
            log(f"FAILED {f}")
    finally:
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()
        harness.remove_tree(work)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    bad_values = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    print("report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": not failures and not bad_values,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
