"""O1 semantics are task EXECUTION, not just graph shape: run every DAG
task's python_callable in reference dependency order (etl → report →
[jdbc ∥ mongo ∥ backup]) against the fixtures dir and check the results
against a direct jobs.run_etl — the DAG must be pure glue over the same
library functions (reference dags/marketeye_etl_dag.py:1016-1090), and
only task_etl may read raw: the rest hand off through the catalog."""

import importlib.util
import json
from pathlib import Path

import pytest

FIXTURES = str(Path(__file__).parent / "fixtures")


def _dag_module():
    path = Path(__file__).resolve().parent.parent / "dags" / "marketeye_spark_dag.py"
    spec = importlib.util.spec_from_file_location("marketeye_spark_dag", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dag_callables_execute_in_dependency_order(spark, tmp_path, monkeypatch):
    from etl_marketeye_airflow_spark import jobs
    from etl_marketeye_airflow_spark.jobs import run_etl
    from etl_marketeye_airflow_spark.operators.stats import render_report
    from etl_marketeye_airflow_spark.sinks.sinks import mongo_document_rows

    out = tmp_path / "processed"
    out.mkdir()
    monkeypatch.setenv("MARKETEYE_RAW_DIR", FIXTURES)
    monkeypatch.setenv("MARKETEYE_OUT_DIR", str(out))
    monkeypatch.delenv("MARKETEYE_JDBC_URL", raising=False)
    monkeypatch.delenv("MARKETEYE_MONGO_URI", raising=False)
    dag = _dag_module()

    # --- task 1: spark_etl — XCom metric must equal a direct run_etl ----
    stats = dag.task_etl()
    direct = run_etl(spark, FIXTURES)
    want = direct.statistics.collect()[0].asDict()
    assert stats == want
    assert stats["total_products"] == 6

    # the materialized handoff files downstream tasks consume
    final = spark.read.json(str(out / "marketeye_final"))
    assert final.count() == 6
    assert {r.product_id for r in final.select("product_id").collect()} == {
        r.product_id for r in direct.merged.select("product_id").collect()
    }
    assert spark.read.option("header", True).csv(str(out / "offers_csv")).count() == 8

    # downstream tasks hand off through marketeye_final: no raw re-read
    def no_raw(*a, **kw):
        raise AssertionError("a downstream task read the raw files")

    monkeypatch.setattr(jobs, "run_etl", no_raw)
    monkeypatch.setattr(jobs, "read_source", no_raw)
    monkeypatch.setenv("MARKETEYE_RAW_DIR", str(tmp_path / "no_raw_dir"))

    # --- task 2: generate_report ---------------------------------------
    report_path = dag.task_report()
    lines = Path(report_path).read_text(encoding="utf-8").splitlines()
    want_lines = render_report(
        direct.statistics.collect()[0], direct.brand_distribution.collect(), "TS"
    ).splitlines()
    ts_line = want_lines.index("RAPPORT ETL MARKETEYE - TS")
    assert lines[ts_line].startswith("RAPPORT ETL MARKETEYE - ")
    del lines[ts_line], want_lines[ts_line]
    assert lines == want_lines

    # --- fan-out: save_to_postgresql (env-gated skip is explicit) ------
    assert dag.task_jdbc() == "skipped: MARKETEYE_JDBC_URL not set"

    # --- fan-out: save_to_mongodb with an injected spool client --------
    spool = tmp_path / "mongo"
    spool.mkdir()
    spool_s = str(spool)

    def make_client():
        import json as _json
        import os as _os
        import uuid as _uuid

        class Coll:
            def delete_many(self, q):
                pass

            def insert_many(self, docs):
                p = _os.path.join(spool_s, f"b-{_uuid.uuid4().hex}.jsonl")
                with open(p, "w") as f:
                    for d in docs:
                        f.write(_json.dumps(d, sort_keys=True) + "\n")

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

    assert dag.task_mongo(client_factory=make_client) == 6
    docs = []
    for p in spool.glob("b-*.jsonl"):
        with open(p) as f:
            docs += [json.loads(line) for line in f]
    # the full master shape, explicit nulls included; direct.merged is
    # served from task_etl's cached merge (same plan), so even the
    # run-clock metadata stamps agree
    assert sorted(json.dumps(d, sort_keys=True) for d in docs) == sorted(
        json.dumps(json.loads(r.doc_json), sort_keys=True)
        for r in mongo_document_rows(direct.merged).collect()
    )

    # --- fan-out: json_backup backs up the SHIPPED file ----------------
    backup_path = dag.task_backup()
    assert spark.read.json(backup_path).count() == 6

    # unset URI without an injected factory -> explicit skip, not a crash
    assert dag.task_mongo() == "skipped: MARKETEYE_MONGO_URI not set"

    direct.merged.unpersist()


def test_dag_topology_matches_reference(monkeypatch):
    """Graph shape vs the reference orchestration — only when airflow is
    importable (it is not in this environment; the module is import-gated)."""
    dag_mod = _dag_module()
    if not dag_mod.HAVE_AIRFLOW:
        pytest.skip("airflow not installed; module import-gate verified")
    g = dag_mod.dag
    ids = {t.task_id for t in g.tasks}
    assert ids == {
        "spark_etl",
        "generate_report",
        "save_to_postgresql",
        "save_to_mongodb",
        "json_backup",
    }
    report = g.get_task("generate_report")
    assert set(report.downstream_task_ids) == {
        "save_to_postgresql",
        "save_to_mongodb",
        "json_backup",
    }
