"""The workloads.  Each is a closed loop with one client: ``op`` runs one
operation and returns only when it has finished, and the runner calls it
again until the run's time is up.

- ``dag_daily``: one operation is the paper's DAG on a raw scrape —
  ``task_etl`` → ``task_report`` → ``task_jdbc`` ∥ ``task_mongo`` ∥
  ``task_backup`` — then the top-10 anomaly analysis of the shipped offers.
- ``registry_hot``: one operation is a pass over five registry queries in
  a fixed order, each timed to its collected rows.

Every run pays a JVM start and a cold first operation (20-35 s each on a
4-core host), and a third workload at 22 runs does not fit a one-hour
budget, so the streaming path has no workload of its own: the DAG probe
drives one small catch-up cycle (``StreamIncremental``) for the streaming
layer.

Each operation records its wall time (``makespan_s``) and the CPU seconds
of the whole process tree (``cpu_s``, taken by the runner); a DAG
operation also records the step a user waits on inside it (``steps``),
the report being ready, and a registry pass each query's time.
"""

from __future__ import annotations

import importlib.util
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import checks
import gen_raw
import harness
import layers
from harness import Tracer, force, median

# Input sizes.  A cold DAG operation is mostly fixed planning and JIT cost
# (27 s at 3k records, 35 s at 12k on a 4-core host), so inputs stay small
# enough for a run, set-up included, to take about a minute.
DAG_RECORDS = 3_000
# The registry's sf0.001 test tables, as shipped with the benchmark (the
# tables the five queries read), so every run reads the same inputs.
REGISTRY_DIR = Path(__file__).resolve().parent / "data" / "sf0.001"
REGISTRY_TABLES = ("region", "nation", "supplier", "part", "orders", "lineitem", "documents")

REGISTRY_QUERIES = {
    "q202": "q202_cluster_representatives",
    "q114": "q114_pagerank",
    "q188": "q188_rfm_segments",
    "q81": "q81_tpch_q2_min_cost_supplier",
    "q01": "q01_brand_price_summary",
}
assert tuple(REGISTRY_QUERIES) == layers.REGISTRY_IDS
# Digests (``checks.digest``) of each query's result on REGISTRY_DIR, as
# the program computed them when the benchmark was added; each equals the
# digest of the query's DuckDB oracle (checked by the benchmark's tests).
REGISTRY_DIGESTS = {
    "q202": "476:ad438764ab6cec3b198ffa214ec3ca59",
    "q114": "160:567e6505670c5cc121892f9031f51bb6",
    "q188": "39:68227fa2a5f1bfdc72024e64bea4b13d",
    "q81": "17:7a2b55463b7f4b94fe2c470eb376d526",
    "q01": "5:8091739ea4f7f15b7054db2300a3d03f",
}


def _raw_schema(source: str):
    from etl_marketeye_airflow_spark import schemas

    return getattr(schemas, f"{source.upper()}_RAW_SCHEMA")


def _transform(source: str):
    from etl_marketeye_airflow_spark import adapters

    return adapters.ADAPTERS[source]


def spool_client_factory(spool_dir: str):
    """A pymongo-shaped client that appends inserted documents to JSONL
    files, as in the DAG test.  Built from closures so Spark ships it to
    Python workers by value."""

    def make_client():
        import json as _json
        import os as _os
        import uuid as _uuid

        class Coll:
            def delete_many(self, q):
                pass

            def insert_many(self, docs):
                p = _os.path.join(spool_dir, f"b-{_uuid.uuid4().hex}.jsonl")
                with open(p, "w") as f:
                    for d in docs:
                        f.write(_json.dumps(d) + "\n")

            def create_index(self, keys, **kw):
                pass

        class DB:
            def __getitem__(self, name):
                return Coll()

        class Client:
            def __getitem__(self, name):
                return DB()

            def close(self):
                pass

        return Client()

    return make_client


def _count_lines(path: Path, pattern: str) -> int:
    n = 0
    for p in path.glob(pattern):
        with open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


class Workload:
    name = ""
    # timed operations per run, whatever ``--seconds`` allows
    min_ops = 1

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.spark = None
        self.tracer: Tracer | None = None
        self.samples: list[dict] = []
        self.layer: dict[str, list[float]] = {}

    def prepare(self) -> None:
        """Generate inputs (no Spark)."""

    def warm(self) -> None:
        """Workload set-up in the session, charged to ``setup_s``."""

    def op(self) -> list[str]:
        raise NotImplementedError

    def probe(self) -> list[str] | None:
        """Traced runs only: time each layer's public functions; returns
        failures of the checks the probe makes, or None if it has none."""
        return None

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def finish(self) -> list[str]:
        """Checks that need the whole run; returns failures."""
        return []

    def end_to_end(self) -> dict[str, float]:
        return {"makespan_s": median([s["makespan_s"] for s in self.samples]),
                "step_latency_s": median([t for s in self.samples for t in s["steps"]])}

    def report(self) -> dict:
        """The workload's own metric names for the human-readable report line."""
        return {}


class DagDaily(Workload):
    name = "dag_daily"

    def prepare(self):
        self.raw = self.work / "raw"
        self.out = self.work / "processed"
        gen = gen_raw.RawGenerator(self.seed)
        self.counts = gen.batch(self.raw, DAG_RECORDS)
        self.expected = gen_raw.totals(self.counts)
        self.raw_bytes = sum(c.bytes for c in self.counts.values())

    def warm(self):
        path = harness.ROOT / "dags" / "marketeye_spark_dag.py"
        spec = importlib.util.spec_from_file_location("marketeye_spark_dag", path)
        self.dag = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.dag)
        os.environ["MARKETEYE_RAW_DIR"] = str(self.raw)
        os.environ["MARKETEYE_OUT_DIR"] = str(self.out)
        os.environ.pop("MARKETEYE_JDBC_URL", None)
        os.environ.pop("MARKETEYE_MONGO_URI", None)

    def _fresh_out(self) -> Path:
        # run_etl persists its merge and the DAG never releases it; a later
        # operation or probe with the same plan would read that cache
        self.spark.catalog.clearCache()
        harness.remove_tree(self.out)
        self.out.mkdir(parents=True)
        spool = self.out / "mongo_spool"
        spool.mkdir()
        return spool

    def _anomalies(self):
        from etl_marketeye_airflow_spark.jobs import run_anomaly_analysis
        from etl_marketeye_airflow_spark.operators.merge import flatten_offers
        from etl_marketeye_airflow_spark.schemas import MASTER_SCHEMA

        final = self.spark.read.schema(MASTER_SCHEMA).json(str(self.out / "marketeye_final"))
        res = run_anomaly_analysis(flatten_offers(final), top_n=10)
        top = res["top_anomalies"].collect()
        res["type_distribution"].collect()
        return res, top

    def op(self):
        tr = self.tracer
        spool = self._fresh_out()
        dag = self.dag
        t0 = time.perf_counter()
        with tr.span("dags.task_etl"):
            stats = dag.task_etl()
        # each task is a process of its own under Airflow: nothing a task
        # persists survives it, so task_report's run_etl scans the raw files
        self.spark.catalog.clearCache()
        with tr.span("dags.task_report"):
            report_path = dag.task_report()
        self.spark.catalog.clearCache()
        t_report = time.perf_counter() - t0

        def run(task, **kw):
            with tr.span(f"dags.{task.__name__}"):
                return task(**kw)

        with ThreadPoolExecutor(3) as pool:
            client = spool_client_factory(str(spool))
            futs = [pool.submit(run, dag.task_jdbc),
                    pool.submit(run, dag.task_mongo, client_factory=client),
                    pool.submit(run, dag.task_backup)]
            jdbc, mongo, backup = [f.result() for f in futs]
        with tr.span("anomaly.analysis"):
            _, top = self._anomalies()
        makespan = time.perf_counter() - t0
        self.samples.append({"makespan_s": makespan, "steps": [t_report]})

        bad = checks.check_etl_outputs(stats, checks.offers_csv_stats(self.out / "offers_csv"),
                                       self.expected)
        report = Path(report_path).read_text(encoding="utf-8") if Path(report_path).exists() else ""
        if f"Produits uniques: {stats['total_products']}" not in report:
            bad.append("report missing or without the product total")
        if jdbc != "skipped: MARKETEYE_JDBC_URL not set":
            bad.append(f"task_jdbc returned {jdbc!r}")
        if mongo != stats["total_products"] or _count_lines(spool, "b-*.jsonl") != mongo:
            bad.append(f"mongo wrote {mongo} docs for {stats['total_products']} products")
        if _count_lines(Path(backup), "part-*") != stats["total_products"]:
            bad.append("backup does not hold every product")
        if not 0 < len(top) <= 10:
            bad.append(f"top anomalies has {len(top)} rows")
        return bad

    def report(self):
        e = self.end_to_end()
        return {"dag_makespan_s": e["makespan_s"], "time_to_report_s": e["step_latency_s"]}

    def probe(self):
        """Each layer in turn, its input materialized beforehand so only the
        layer's own work is timed; every timed call is forced with the
        xxhash-sum action (or is itself an action, for sinks)."""
        from etl_marketeye_airflow_spark import jobs
        from etl_marketeye_airflow_spark.operators import merge as merge_ops
        from etl_marketeye_airflow_spark.operators import stats as stats_ops
        from etl_marketeye_airflow_spark.sinks import sinks
        from etl_marketeye_airflow_spark.sources.json_source import read_source

        tr, spark = self.tracer, self.spark
        probe_out = self.work / "probe"
        self._fresh_out()
        cached = []
        adapted = []
        corrupt = 0
        for s in gen_raw.SOURCES:
            with tr.span(f"sources.{s}.read"):
                raw = read_source(spark, str(self.raw), s, _raw_schema(s))
                _, n = force(raw)
            self.record(f"sources.{s}.partitions", raw.rdd.getNumPartitions())
            corrupt += self.counts[s].records - n
            raw = raw.persist()
            force(raw)
            with tr.span(f"adapters.{s}.transform"):
                out = _transform(s)(raw)
                force(out)
            cached.append(raw)
            adapted.append(out)
        self.record("sources.corrupt_rows", corrupt)
        union = merge_ops.union_sources(*adapted).persist()
        _, offers_in = force(union)
        with tr.span("merge.merge_products"):
            merged = merge_ops.merge_products(union)
            force(merged)
        merged = merged.persist()
        _, products = force(merged)
        offers = merge_ops.flatten_offers(merged).persist()
        _, offers_out = force(offers)
        self.record("merge.offers_in", offers_in)
        self.record("merge.offers_out", offers_out)
        self.record("merge.products_out", products)
        self.record("merge.dedup_ratio", offers_out / offers_in)
        with tr.span("stats.dataset_statistics"):
            st = stats_ops.dataset_statistics(merged, offers).collect()[0]
        with tr.span("stats.brand_distribution"):
            brands = stats_ops.brand_distribution(merged).collect()
        with tr.span("stats.render_report"):
            stats_ops.render_report(st, brands, "2026-01-01 00:00")
        with tr.span("anomaly.probe"):
            res = jobs.run_anomaly_analysis(offers, top_n=10)
            res["top_anomalies"].collect()
        _, groups = force(res["group_stats"])
        _, flagged = force(res["anomalies"])
        self.record("anomaly.groups", groups)
        self.record("anomaly.flagged", flagged)
        spool = probe_out / "mongo"
        spool.mkdir(parents=True)
        with tr.span("sinks.json_products"):
            sinks.write_json_products(merged, str(probe_out / "final"))
        with tr.span("sinks.csv_offers"):
            sinks.write_csv_offers(offers, str(probe_out / "csv"))
        with tr.span("sinks.backup"):
            sinks.write_timestamped_backup(merged, str(probe_out / "backups"))
        with tr.span("sinks.mongo"):
            sinks.write_mongo_pymongo(merged, spool_client_factory(str(spool)))
        written = harness.dir_bytes(probe_out)
        self.record("sinks.bytes_written", written)
        self.record("sinks.write_amp", written / self.raw_bytes)
        for df in (*cached, union, merged, offers):
            df.unpersist()
        harness.remove_tree(probe_out)
        return self._stream_probe()

    def _stream_probe(self) -> list[str]:
        """One small catch-up cycle for the streaming layer's figures, with
        its own checks."""
        stream = StreamIncremental(self.work / "stream_probe", self.seed)
        stream.prepare()
        stream.spark, stream.tracer = self.spark, self.tracer
        bad = stream.op()
        bad += stream.finish()
        stream.probe()
        for k, v in stream.layer.items():
            self.layer[k] = v
        harness.remove_tree(stream.work)
        return [f"stream probe: {b}" for b in bad]

    def count_dag_calls(self):
        """Wrap ``jobs.run_etl`` and ``jobs.read_source`` for one traced DAG
        run: the DAG resolves ``run_etl`` at call time and ``run_etl`` reads
        through ``jobs.read_source``."""
        from etl_marketeye_airflow_spark import jobs

        calls = {"run_etl": 0, "read_source": 0}
        orig = {k: getattr(jobs, k) for k in calls}

        def counting(k):
            def f(*a, **kw):
                calls[k] += 1
                return orig[k](*a, **kw)
            return f

        for k in calls:
            setattr(jobs, k, counting(k))

        def restore():
            for k, f in orig.items():
                setattr(jobs, k, f)
            return calls

        return restore


class StreamIncremental(Workload):
    """A catch-up cycle on a fresh checkpoint, run by the DAG probe: before
    each ``stream_etl_available_now`` drain one day of NDJSON lands, so the
    catalog grows."""

    DAYS = 2
    DAY_RECORDS = 2_000

    def prepare(self):
        gen = gen_raw.RawGenerator(self.seed)
        self.days = []
        for d in range(self.DAYS):
            day_dir = self.work / "drops" / f"day{d:02d}"
            counts = gen.batch(day_dir, self.DAY_RECORDS, day=d, ndjson_all=True,
                               prefix=f"day{d:02d}_")
            self.days.append((day_dir, counts))
        self.batch_dir = self.work / "drops_all"
        self.batch_dir.mkdir(parents=True)
        cumulative = 0
        self.expected_offers = []
        for day_dir, counts in self.days:
            for p in day_dir.iterdir():
                os.link(p, self.batch_dir / p.name)
            cumulative += sum(c.offers for c in counts.values())
            self.expected_offers.append(cumulative)

    def op(self):
        from etl_marketeye_airflow_spark.streaming.ingest import (
            drain_available_now,
            stream_etl_available_now,
        )

        tr = self.tracer
        land, ckpt, catalog = (self.work / k for k in ("land", "ckpt", "catalog"))
        for p in (land, ckpt, catalog):
            harness.remove_tree(p)
        land.mkdir()
        bad = []
        self.progress = []
        for d, (day_dir, _) in enumerate(self.days):
            for p in day_dir.iterdir():
                os.link(p, land / p.name)
            t0 = time.perf_counter()
            with tr.span("streaming.drain"):
                q = stream_etl_available_now(self.spark, str(land), str(catalog), str(ckpt))
                drain_available_now(q)
            wall = time.perf_counter() - t0
            if q.exception() is not None:
                bad.append(f"day {d}: stream failed: {q.exception()}")
                break
            self.progress.append((wall, q.recentProgress, harness.dir_bytes(catalog)))
            ids, n_offers = checks.catalog_summary(catalog)
            if n_offers != self.expected_offers[d]:
                bad.append(f"day {d}: catalog has {n_offers} offers, generated "
                           f"{self.expected_offers[d]}")
        self.final = None if bad else (ids, n_offers)
        return bad

    def finish(self):
        """The final catalog against a batch ``run_etl`` over the same drops."""
        from etl_marketeye_airflow_spark.jobs import run_etl

        res = run_etl(self.spark, str(self.batch_dir))
        ref = ({r.product_id for r in res.merged.select("product_id").collect()},
               res.statistics.collect()[0]["total_offers"])
        res.merged.unpersist()
        f = self.final
        if f is None or f == ref:
            return []
        return [f"final catalog ({len(f[0])} products, {f[1]} offers) != batch "
                f"run_etl ({len(ref[0])}, {ref[1]})"]

    def probe(self):
        """Streaming layer figures per drain, from
        ``StreamingQuery.recentProgress``."""
        for wall, progress, catalog_bytes in self.progress:
            dur = {}
            for p in progress:
                for k, v in (p.get("durationMs") or {}).items():
                    dur[k] = dur.get(k, 0) + v
            trigger = dur.get("triggerExecution", 0) / 1000
            self.record("streaming.trigger_s", trigger)
            self.record("streaming.add_batch_s", dur.get("addBatch", 0) / 1000)
            self.record("streaming.planning_s", dur.get("queryPlanning", 0) / 1000)
            self.record("streaming.start_stop_s", wall - trigger)
            self.record("streaming.input_rows", sum(p.get("numInputRows", 0) for p in progress))
            self.record("streaming.bytes_rewritten", catalog_bytes)
        ids, _ = checks.catalog_summary(self.work / "catalog")
        self.record("streaming.catalog_rows", len(ids))
        return []


class RegistryHot(Workload):
    name = "registry_hot"
    # A pass is short next to the run's fixed set-up, and the JVM is still
    # compiling (a third of a pass's CPU time) after the warm-up pass, so
    # passes speed up one after another: every run times the same three
    # passes and reports each query's median over them.
    min_ops = 3

    sf_dir = REGISTRY_DIR

    def warm(self):
        # table footers are session-level one-time reads (as in bench.py)
        from etl_marketeye_airflow_spark import queries as registry

        self.registry = registry
        for t in REGISTRY_TABLES:
            self.spark.read.parquet(str(self.sf_dir / f"{t}.parquet")).schema

    def op(self):
        tr = self.tracer
        bad = []
        times = {}
        for qid, name in REGISTRY_QUERIES.items():
            t0 = time.perf_counter()
            with tr.span(f"registry.{qid}"):
                df = self.registry.QUERIES[name](self.spark, str(self.sf_dir))
                # the rows a caller receives, which the digest check needs too
                rows = df.collect()
            times[qid] = time.perf_counter() - t0
            got = checks.digest(df.columns, rows)
            if got != REGISTRY_DIGESTS[qid]:
                bad.append(f"{qid}: result {got} != pinned {REGISTRY_DIGESTS[qid]}")
            self.spark.catalog.clearCache()
        self.samples.append({"makespan_s": sum(times.values()), "queries": times})
        return bad

    def end_to_end(self):
        """A pass's total and geometric mean over each query's median time."""
        per_query = [median([s["queries"][q] for s in self.samples]) for q in REGISTRY_QUERIES]
        return {"makespan_s": sum(per_query),
                "step_latency_s": math.exp(sum(map(math.log, per_query)) / len(per_query))}

    def report(self):
        e = self.end_to_end()
        return {"registry_total_s": e["makespan_s"], "registry_geomean_s": e["step_latency_s"],
                "registry_queries_s": {q: median([s["queries"][q] for s in self.samples])
                                       for q in REGISTRY_QUERIES}}


WORKLOADS = {w.name: w for w in (DagDaily, RegistryHot)}
