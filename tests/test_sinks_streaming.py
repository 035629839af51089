"""Tests for sinks (S4/S5/S8 real roundtrips), HTTP enrichment with
injected clients, and the Structured Streaming ingestion path."""

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_marketeye_airflow_spark.jobs import run_etl
from etl_marketeye_airflow_spark.operators.enrich import enrich_with_http, ollama_analyze
from etl_marketeye_airflow_spark.sinks import (
    read_json_products,
    write_csv_offers,
    write_json_products,
    write_timestamped_backup,
)
from etl_marketeye_airflow_spark.sinks.sinks import relational_tables
from etl_marketeye_airflow_spark.streaming import stream_etl_available_now

FIXTURES = str(Path(__file__).parent / "fixtures")


@pytest.fixture(scope="module")
def etl(spark):
    res = run_etl(spark, FIXTURES)
    res.merged.count()
    yield res
    res.merged.unpersist()


def test_json_and_csv_and_backup_sinks(spark, etl, tmp_path_factory):
    out = tmp_path_factory.mktemp("sinks")
    write_json_products(etl.merged, str(out / "final"))
    back = read_json_products(spark, str(out / "final"))
    assert back.columns == etl.merged.columns
    assert sorted(back.collect()) == sorted(etl.merged.collect())

    write_csv_offers(etl.offers_flat, str(out / "offers"))
    csv = spark.read.option("header", True).csv(str(out / "offers"))
    assert csv.count() == 8
    assert "product_id" in csv.columns and "price" in csv.columns

    path = write_timestamped_backup(etl.merged, str(out / "backups"))
    assert "marketeye_backup_" in path
    assert spark.read.json(path).count() == 6


def test_relational_tables_shape(etl):
    tables = relational_tables(etl.merged, etl.offers_flat)
    prod = tables["products"].collect()
    assert len(prod) == 6
    s24 = next(r for r in prod if r.product_id == "samsung_s24ultra")
    assert s24.specifications.startswith("{")  # spec map serialized to JSON (F16)
    assert tables["offers"].count() == 8


# --- enrichment with injected clients.  NOTE: clients must be defined as
# closures (pickled BY VALUE) — module-level functions in a test module
# pickle by reference and Python workers can't import tests.* ---------------

def make_fake_clients():
    def ok(url, payload=None, timeout=None):
        return True, f"payload-for:{url.rsplit('/', 1)[-1]}"

    def empty(url, payload=None, timeout=None):
        return True, ""

    def error(url, payload=None, timeout=None):
        return False, "Erreur: connection refused"

    def ollama(url, payload=None, timeout=None):
        return True, '{"response": "analyse: prix anormalement bas"}'

    return ok, empty, error, ollama


fake_client_ok, fake_client_empty, fake_client_error, fake_ollama = make_fake_clients()


def test_enrich_statuses(spark, etl):
    for client, status, payload_check in [
        (fake_client_ok, "found", lambda p: p.startswith("payload-for:")),
        (fake_client_empty, "not_found", lambda p: p is None),
        (fake_client_error, "error", lambda p: "Erreur" in p),
    ]:
        out = enrich_with_http(
            etl.offers_flat,
            key_col="product_id",
            url_template="http://api.example/lookup/{key}",
            client=client,
            rate_limit_per_sec=0,
        ).collect()
        assert len(out) == 8
        assert all(r.enrich_status == status for r in out)
        assert all(payload_check(r.enriched_payload) for r in out)


def test_ollama_analysis_column(spark, etl):
    from etl_marketeye_airflow_spark.jobs import run_anomaly_analysis

    top = run_anomaly_analysis(etl.offers_flat, strategy="zscore", z_threshold=0.5)[
        "top_anomalies"
    ]
    out = ollama_analyze(top, client=fake_ollama).collect()
    assert len(out) == len(top.collect())
    assert all(r.ollama_analysis == "analyse: prix anormalement bas" for r in out)


def test_ollama_error_captured_as_value(spark, etl):
    from etl_marketeye_airflow_spark.jobs import run_anomaly_analysis

    top = run_anomaly_analysis(etl.offers_flat, strategy="zscore", z_threshold=0.5)[
        "top_anomalies"
    ]
    out = ollama_analyze(top, client=fake_client_error).collect()
    # reference behavior: the error string IS the analysis value
    assert all("Erreur" in r.ollama_analysis for r in out)


# --- streaming ETL ----------------------------------------------------------

def test_stream_etl_matches_batch(spark, etl, tmp_path_factory):
    import json

    out = tmp_path_factory.mktemp("stream")
    # streaming landing dirs are NDJSON-by-contract: re-stage the array-
    # layout fixtures line-per-record (the avito file already is NDJSON,
    # corrupt line included — the stream must skip it like batch does)
    landing = out / "landing"
    landing.mkdir()
    (landing / "avito_ads.json").write_text(
        (Path(FIXTURES) / "avito_ads.json").read_text()
    )
    for name in ["jumia_products.json", "electroplanet_data.json"]:
        records = json.loads((Path(FIXTURES) / name).read_text())
        (landing / name).write_text(
            "\n".join(json.dumps(r, ensure_ascii=False) for r in records)
        )
    q = stream_etl_available_now(
        spark, str(landing), str(out / "final"), str(out / "ckpt")
    )
    q.awaitTermination()
    streamed = spark.read.json(str(out / "final"))
    assert streamed.count() == 6  # same products as the batch pipeline
    batch_ids = {r.product_id for r in etl.merged.select("product_id").collect()}
    stream_ids = {r.product_id for r in streamed.select("product_id").collect()}
    assert stream_ids == batch_ids


# --- stateful streaming: state must carry across micro-batches --------------

def test_stateful_running_totals_across_batches(spark, tmp_path_factory):
    import json
    import uuid

    from etl_marketeye_airflow_spark.streaming.stateful import running_user_totals

    d = tmp_path_factory.mktemp("stateful")
    batch1 = [{"user_id": 1, "value": 10.0}, {"user_id": 1, "value": 5.0},
              {"user_id": 2, "value": 7.0}]
    batch2 = [{"user_id": 1, "value": 1.0}, {"user_id": 3, "value": 2.0}]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in batch2))

    stream = (spark.readStream.schema("user_id long, value double")
              .option("maxFilesPerTrigger", 1).json(str(d)))
    name = f"stateful_{uuid.uuid4().hex[:8]}"
    q = (running_user_totals(stream).writeStream.format("memory")
         .queryName(name).outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql(f"select * from {name}").collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.total_events, r.total_value))
    # user 1 appears in both micro-batches → two emissions, the second
    # cumulative over carried state: final (3 events, 16.0) regardless of
    # which file formed the first batch
    assert len(per_user[1]) == 2
    assert max(per_user[1]) == (3, 16.0)
    assert per_user[2] == [(1, 7.0)]
    assert per_user[3] == [(1, 2.0)]

    # q34's sink read: the raw table holds one cumulative snapshot per
    # (user, batch) — user 1 twice here — so the compaction must
    # collapse to exactly the final state (the batch GROUP BY answer)
    from etl_marketeye_airflow_spark.streaming.stateful import (
        compact_running_totals_sink,
    )

    got = {
        r.user_id: (r.total_events, r.total_value)
        for r in compact_running_totals_sink(spark.table(name)).collect()
    }
    assert got == {1: (3, 16.0), 2: (1, 7.0), 3: (1, 2.0)}


def test_salted_stats_equal_plain(spark):
    from etl_marketeye_airflow_spark.operators.skew import salted_group_stats

    df = spark.createDataFrame(
        [("hot", float(i % 7 + 1)) for i in range(500)] + [("cold", 3.0), ("cold", 5.0)],
        "k string, v double",
    )
    salted = {r.k: r for r in salted_group_stats(df, "k", "v", n_salts=8).collect()}
    from pyspark.sql import functions as FF
    plain = {r.k: r for r in df.groupBy("k").agg(
        FF.count(FF.lit(1)).alias("n"), FF.avg("v").alias("m"),
        FF.min("v").alias("lo"), FF.max("v").alias("hi")).collect()}
    for k in plain:
        assert salted[k].total_count == plain[k].n
        assert salted[k].value_mean == pytest.approx(plain[k].m, rel=1e-12)
        assert salted[k].value_min == plain[k].lo and salted[k].value_max == plain[k].hi


# --- regression tests for review findings -----------------------------------

def test_stream_etl_accumulates_across_batches(spark, tmp_path_factory):
    """Products from batch 1 must survive batch 2's write (cumulative
    staged merge, not batch-only overwrite)."""
    import json

    out = tmp_path_factory.mktemp("stream_acc")
    landing = out / "landing"
    landing.mkdir()
    rec = {"ad_id": "1", "title": "Samsung S24 ULTRA", "price": "100 DH",
           "brand": "SAMSUNG", "model": "S24 ULTRA", "condition": "NEUF"}
    rec2 = dict(rec, ad_id="2", brand="APPLE", model="IPHONE 15", title="iPhone 15")
    (landing / "avito_1.json").write_text(json.dumps(rec))
    (landing / "avito_2.json").write_text(json.dumps(rec2))
    stream_kwargs = dict(out_path=str(out / "final"), checkpoint_dir=str(out / "ckpt"))
    q = stream_etl_available_now(spark, str(landing), **stream_kwargs)
    q.awaitTermination()
    first_run = {r.product_id for r in spark.read.json(str(out / "final")).collect()}
    assert len(first_run) == 2

    # later run with a NEW file and the same checkpoint: batch contains
    # only the new file, output must still contain all three products
    rec3 = dict(rec, ad_id="3", brand="XIAOMI", model="REDMI 12", title="Redmi 12")
    (landing / "avito_3.json").write_text(json.dumps(rec3))
    q = stream_etl_available_now(spark, str(landing), **stream_kwargs)
    q.awaitTermination()
    second_run = {r.product_id for r in spark.read.json(str(out / "final")).collect()}
    assert first_run < second_run and len(second_run) == 3


def test_json_source_bare_count(spark):
    """count() directly on the tolerant reader must not hit Spark's
    corrupt-record-only-column restriction."""
    from etl_marketeye_airflow_spark.schemas import AVITO_RAW_SCHEMA
    from etl_marketeye_airflow_spark.sources.json_source import read_source

    assert read_source(spark, FIXTURES, "avito", AVITO_RAW_SCHEMA).count() == 4


def test_render_report_degenerate_stats():
    from etl_marketeye_airflow_spark.operators.stats import render_report

    out = render_report(
        {"total_products": 0, "total_offers": None, "avg_price": None,
         "min_price": None, "max_price": None, "sources": []},
        [], "2026-01-01",
    )
    assert "0.00 MAD" in out


def test_enrich_zero_retries(spark, etl):
    out = enrich_with_http(
        etl.offers_flat, key_col="product_id",
        url_template="http://api.example/{key}",
        client=fake_client_error, rate_limit_per_sec=0, max_retries=0,
    ).collect()
    assert all(r.enrich_status == "error" for r in out)


def test_asof_no_cross_row_backfill(spark):
    """A matched right row with a null value field must yield null, not a
    value backfilled from an older right row."""
    from etl_marketeye_airflow_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 3, "L")], "k long, t long, lbl string")
    right = spark.createDataFrame([(1, 1, 5.0), (1, 2, None)], "k long, t long, v double")
    row = asof_join(left, right, "k", "t", ["t", "v"]).collect()[0]
    assert row.asof_t == 2 and row.asof_v is None


def test_range_join_duplicate_left_rows(spark):
    from etl_marketeye_airflow_spark.operators.temporal import range_join_count

    left = spark.createDataFrame([(1, 100), (1, 100)], "k long, t long")
    right = spark.createDataFrame([(1, 90), (1, 110)], "k long, t long")
    out = range_join_count(left, right, "k", "t", 60).collect()
    assert [r.n_in_range for r in out] == [2, 2]  # two rows, not one row of 4


def test_embedding_near_dup_empty(spark):
    from etl_marketeye_airflow_spark.operators.similarity import embedding_near_dup_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_near_dup_pairs(empty).count() == 0


# --- S9 resumable checkpointing: a died run must resume, not refetch -------

def test_enrich_resumable_checkpoint(spark, tmp_path_factory):
    import pytest as _pt

    from etl_marketeye_airflow_spark.operators.enrich import enrich_with_http_resumable

    d = tmp_path_factory.mktemp("enrich_ck")
    ckpt = str(d / "ckpt")
    log = str(d / "fetched.log")
    df = spark.createDataFrame([(f"k{i:02d}",) for i in range(20)], "product_id string")
    grp = {
        r._key: r.g
        for r in df.select(F.col("product_id").alias("_key"))
        .withColumn("g", F.pmod(F.xxhash64("_key"), F.lit(10)))
        .collect()
    }
    # poison a key in the LAST populated batch-group: every earlier group
    # must have committed its checkpoint before the "crash"
    last_grp = max(grp.values())
    poison = sorted(k for k, g in grp.items() if g == last_grp)[0]

    def make_clients(poison_key, log_path):
        def failing(url, payload=None, timeout=None):
            key = url.rsplit("/", 1)[-1]
            if key == poison_key:
                raise RuntimeError("simulated mid-run death")
            return True, f"p:{key}"

        def logging_ok(url, payload=None, timeout=None):
            key = url.rsplit("/", 1)[-1]
            with open(log_path, "a") as f:
                f.write(key + "\n")
            return True, f"p:{key}"

        return failing, logging_ok

    failing, logging_ok = make_clients(poison, log)

    with _pt.raises(Exception):
        enrich_with_http_resumable(
            df, "product_id", "http://x/{key}", ckpt,
            client=failing, rate_limit_per_sec=0, n_partitions=2,
        )
    done1 = {r._key for r in spark.read.parquet(ckpt).select("_key").collect()}
    assert 0 < len(done1) < 20 and poison not in done1  # partial, durable

    out = enrich_with_http_resumable(
        df, "product_id", "http://x/{key}", ckpt,
        client=logging_ok, rate_limit_per_sec=0, n_partitions=2,
    ).collect()
    assert len(out) == 20
    assert all(r.enrich_status == "found" for r in out)
    refetched = set(open(log).read().split())
    assert refetched == set(grp) - done1  # ONLY the remainder was fetched


# --- S6/S7 contract tests: exact options + DDL, no server needed -----------

def test_jdbc_ddl_contract_without_server():
    from etl_marketeye_airflow_spark.sinks.sinks import (
        _JDBC_INDEX_DDL,
        _run_jdbc_ddl,
        jdbc_table_options,
    )

    opts = jdbc_table_options(
        "jdbc:postgresql://db:5432/marketeye", "products",
        {"user": "u", "password": "p", "driver": "org.postgresql.Driver"},
    )
    assert opts == {
        "url": "jdbc:postgresql://db:5432/marketeye",
        "dbtable": "products",
        "user": "u",
        "password": "p",
        "driver": "org.postgresql.Driver",
    }

    executed, factory_args = [], []

    class FakeConn:
        closed = False

        def createStatement(self):
            return self

        def execute(self, sql):
            executed.append(sql)
            return True

        def close(self):
            self.closed = True

    conn = FakeConn()

    def factory(url, user, password):
        factory_args.append((url, user, password))
        return conn

    _run_jdbc_ddl(
        "jdbc:postgresql://db:5432/marketeye", {"user": "u", "password": "p"},
        _JDBC_INDEX_DDL, connection_factory=factory,
    )
    assert factory_args == [("jdbc:postgresql://db:5432/marketeye", "u", "p")]
    assert executed == list(_JDBC_INDEX_DDL)  # all 5 reference indexes, in order
    assert conn.closed


def test_mongo_write_options_contract():
    from etl_marketeye_airflow_spark.sinks.sinks import mongo_write_options

    assert mongo_write_options("mongodb://h:27017", "marketeye", "products") == {
        "connection.uri": "mongodb://h:27017",
        "database": "marketeye",
        "collection": "products",
    }


def test_mongo_pymongo_end_to_end_minus_wire(spark, etl, tmp_path_factory):
    """S7 executed end-to-end MINUS ONLY the wire call: the fake pymongo
    client spools every insert_many batch to disk from inside the
    per-partition closure (workers can't report through driver globals),
    and the driver reads back the EXACT documents — the reference's
    nested product form (ids, offers array, spec map, metadata;
    dags/marketeye_etl_dag.py:961-969) — plus wipe-before-insert ordering
    and the 3 reference index DDLs."""
    import json

    from etl_marketeye_airflow_spark.sinks.sinks import write_mongo_pymongo

    out = tmp_path_factory.mktemp("mongo_spool")
    spool = str(out)
    events_log = str(out / "driver_events.jsonl")

    def make_client():
        # closure: pickled BY VALUE into the partition closure (module-
        # level test functions pickle by reference — workers can't
        # import tests.*; same rule as the enrichment fakes above)
        import json as _json
        import os as _os
        import uuid as _uuid

        class FakeColl:
            def __init__(self, db, name):
                self.key = f"{db}.{name}"

            def delete_many(self, q):
                with open(events_log, "a") as f:
                    f.write(_json.dumps({"op": "delete_many", "coll": self.key, "q": q}) + "\n")

            def insert_many(self, docs):
                p = _os.path.join(spool, f"batch-{_uuid.uuid4().hex}.jsonl")
                with open(p, "w") as f:
                    for d in docs:
                        f.write(_json.dumps(d, sort_keys=True) + "\n")

            def create_index(self, keys, **kw):
                with open(events_log, "a") as f:
                    f.write(
                        _json.dumps({"op": "create_index", "coll": self.key, "keys": keys, "kw": kw}) + "\n"
                    )

        class FakeDB:
            def __init__(self, name):
                self.name = name

            def __getitem__(self, coll):
                return FakeColl(self.name, coll)

        class FakeClient:
            def __getitem__(self, db):
                return FakeDB(db)

            def close(self):
                pass

        return FakeClient()

    n = write_mongo_pymongo(etl.merged, make_client, database="marketeye", collection="products")
    assert n == 6

    docs = []
    for p in Path(spool).glob("batch-*.jsonl"):
        with open(p) as f:
            docs += [json.loads(line) for line in f]
    assert len(docs) == 6
    by_id = {d["product_id"]: d for d in docs}
    assert set(by_id) == {
        r.product_id for r in etl.merged.select("product_id").collect()
    }
    s24 = by_id["samsung_s24ultra"]
    # the reference's nested document form, field for field
    assert isinstance(s24["offers"], list) and s24["offers"]
    assert {"source", "price", "url"} <= set(s24["offers"][0])
    assert isinstance(s24["specifications"], dict)
    assert {"created_at", "last_updated"} <= set(s24["metadata"])

    ev = [json.loads(line) for line in open(events_log)]
    assert ev[0] == {"op": "delete_many", "coll": "marketeye.products", "q": {}}
    idx = [(e["keys"], e["kw"]) for e in ev if e["op"] == "create_index"]
    assert idx == [
        ([["product_id", 1]], {"unique": True}),
        ([["brand", 1]], {}),
        ([["price", 1]], {}),
    ]


def test_events_ts_divisor_is_loud_not_defaulting(tmp_path):
    """Convention #4's guard must FAIL, never silently assume micros: a
    wrong divisor makes every event-time query 1000x off with no error."""
    from etl_marketeye_airflow_spark.sources.tables import events_ts_divisor

    # current testdata: micros (r3+) or nanos (r1-r2) — never a default
    assert events_ts_divisor("/root/testdata/sf0.01") in (1, 1000)
    # unreadable path → loud, not unit='us'
    with pytest.raises(Exception):
        events_ts_divisor(str(tmp_path / "nope"))
    # a ts column that isn't a ns/us timestamp → loud ValueError
    import pyarrow as pa
    import pyarrow.parquet as pq

    bad = tmp_path / "bad"
    bad.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], type=pa.int64())}),
        str(bad / "events.parquet"),
    )
    with pytest.raises(ValueError, match="unsupported"):
        events_ts_divisor(str(bad))


def test_streaming_dedup_suppresses_across_batches(spark, tmp_path_factory):
    """A digest seen in batch 1 must NOT re-emit in batch 2 — the whole
    point of dedup-at-ingest state."""
    import json
    import uuid

    from etl_marketeye_airflow_spark.streaming.ingest import streaming_exact_dedup

    d = tmp_path_factory.mktemp("sdedup")
    batch1 = [{"doc_id": 1, "text": "alpha beta"}, {"doc_id": 2, "text": "gamma"}]
    batch2 = [{"doc_id": 3, "text": "  ALPHA   beta "},  # normalization dup of 1
              {"doc_id": 4, "text": "delta"}]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in batch2))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(str(d)))
    name = f"sdedup_{uuid.uuid4().hex[:8]}"
    q = (streaming_exact_dedup(stream).writeStream.format("memory")
         .queryName(name).outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    hashes = [r.content_hash for r in spark.sql(f"select * from {name}").collect()]
    assert len(hashes) == 3  # alpha-beta, gamma, delta — duplicate suppressed
    assert len(set(hashes)) == 3


def test_session_window_streaming_matches_batch(spark):
    """session_window is also a streaming surface: the availableNow-
    drained sessionization equals the batch q65 result (same gap, same
    µs bounds)."""
    import uuid

    from etl_marketeye_airflow_spark import queries as reg
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in reg.QUERIES["q65_session_windows"](spark, sf).collect()}

    from etl_marketeye_airflow_spark.sources.tables import load_events_stream
    from etl_marketeye_airflow_spark.streaming.ingest import (
        session_event_totals,
    )

    stream = load_events_stream(spark, sf)  # unit-aware _t (convention #4)
    out = session_event_totals(stream, "30 minutes", "1 hour", "_t")
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(name).collect()}
    assert got == batch


def test_streaming_dedup_within_watermark_bounds_state(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark variant: duplicates inside the
    delay window are suppressed across batches, and (the reason this
    variant exists) per-key state carries an eviction deadline so an
    unbounded stream cannot accumulate unbounded digests.  With
    AvailableNow over two files, the in-window dup is dropped and both
    distinct contents emit exactly once."""
    import json
    import uuid

    from pyspark.sql import functions as F

    from etl_marketeye_airflow_spark.streaming.ingest import (
        streaming_dedup_within_watermark,
    )

    d = tmp_path_factory.mktemp("wdedup")
    batch1 = [
        {"doc_id": 1, "text": "alpha beta", "t": "2024-01-01T10:00:00"},
        {"doc_id": 2, "text": "gamma", "t": "2024-01-01T10:05:00"},
    ]
    batch2 = [
        {"doc_id": 3, "text": " ALPHA   beta ", "t": "2024-01-01T10:20:00"},  # dup in-window
        {"doc_id": 4, "text": "delta", "t": "2024-01-01T10:25:00"},
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in batch2))

    stream = (
        spark.readStream.schema("doc_id long, text string, t string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("t", F.to_timestamp("t"))
    )
    out = streaming_dedup_within_watermark(stream, "t", delay="1 hour")
    name = f"wdedup_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    hashes = [r.content_hash for r in spark.table(name).collect()]
    assert len(hashes) == 3  # alpha-beta once, gamma, delta
    assert len(set(hashes)) == 3


def test_stream_interval_join_exactly_once_multi_batch(spark, tmp_path_factory):
    """Stream-stream inner join emits each matched pair EXACTLY ONCE
    across micro-batch splits (the reason q63's raw sink read needs no
    compaction — pins the exemption list in CLAUDE.md convention 9).
    Purchases and clicks arrive in separate files drained one per
    batch; a pair whose sides land in DIFFERENT batches must appear
    once, and re-scanning the already-matched side must not re-emit."""
    import uuid

    from pyspark.sql import Row

    from etl_marketeye_airflow_spark.streaming.joins import (
        stream_interval_join,
    )

    base = 1_700_000_000  # epoch seconds
    d = tmp_path_factory.mktemp("ssjoin")
    pdir, cdir = d / "p", d / "c"
    pdir.mkdir(), cdir.mkdir()

    def ts(off):
        from datetime import datetime, timezone

        return datetime.fromtimestamp(base + off, tz=timezone.utc)

    spark.createDataFrame(
        [Row(purchase_id=1, user_id=10, p_ts=ts(1000))]
    ).coalesce(1).write.parquet(str(pdir / "b1.parquet"))
    spark.createDataFrame(
        [Row(purchase_id=2, user_id=10, p_ts=ts(1200))]
    ).coalesce(1).write.parquet(str(pdir / "b2.parquet"))
    spark.createDataFrame(
        [Row(click_id=100, user_id=10, c_ts=ts(900)),
         Row(click_id=101, user_id=10, c_ts=ts(1100))]
    ).coalesce(1).write.parquet(str(cdir / "b1.parquet"))

    purchases = (
        spark.readStream.schema(
            "purchase_id long, user_id long, p_ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(str(pdir) + "/*.parquet")
    )
    clicks = spark.readStream.schema(
        "click_id long, user_id long, c_ts timestamp"
    ).parquet(str(cdir) + "/*.parquet")

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        stream_interval_join(
            purchases, clicks, key="user_id", left_ts="p_ts",
            right_ts="c_ts", lookback="10 minutes", watermark="1 hour",
        )
        .select("purchase_id", "click_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.purchase_id, r.click_id) for r in spark.table(name).collect()
    )
    # expected batch join: p1@1000 matches clicks in [400,1000] -> c100;
    # p2@1200 matches [600,1200] -> c100, c101.  NO duplicates even
    # though the click file is in scope for both purchase batches.
    assert got == [(1, 100), (2, 100), (2, 101)]


def test_stream_static_join_exactly_once_multi_batch(spark, tmp_path_factory):
    """Stateless append-mode stream-static join: every stream row is
    enriched and emitted exactly once regardless of micro-batch layout
    (convention-9 exempt class).  Two files + maxFilesPerTrigger=1
    forces two batches; the drained sink must equal the batch join with
    no duplicates and no drops."""
    import uuid

    from pyspark.sql import Row

    d = tmp_path_factory.mktemp("ss_join")
    dim = spark.createDataFrame(
        [Row(k=1, seg="A"), Row(k=2, seg="B"), Row(k=3, seg="C")]
    )
    spark.createDataFrame(
        [Row(ev=10, k=1, v=1.5), Row(ev=11, k=2, v=2.5)]
    ).coalesce(1).write.parquet(str(d / "b1.parquet"))
    spark.createDataFrame(
        [Row(ev=12, k=1, v=3.5), Row(ev=13, k=9, v=4.5)]  # k=9 unmatched
    ).coalesce(1).write.parquet(str(d / "b2.parquet"))

    stream = (
        spark.readStream.schema("ev long, k long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*.parquet")
    )
    joined = stream.join(F.broadcast(dim), "k").select("ev", "k", "v", "seg")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table(name).collect()))
    assert got == [
        (10, 1, 1.5, "A"),
        (11, 2, 2.5, "B"),
        (12, 1, 3.5, "A"),
    ]


def test_streaming_sketch_compaction_multi_batch(spark, tmp_path_factory):
    """Update-mode sketch sink: one row per CHANGED bucket per
    micro-batch — a raw read after a 2-batch drain holds stale
    first-batch snapshots next to final ones.  compact_sketch_sink's
    cell-wise monotone aggregates must reconstruct the final sketch
    exactly (== the batch sketch over all rows)."""
    import uuid

    from pyspark.sql import Row

    from etl_marketeye_airflow_spark.operators.corpus import (
        dyadic_histogram,
    )
    from etl_marketeye_airflow_spark.streaming.stateful import (
        compact_sketch_sink,
    )

    d = tmp_path_factory.mktemp("sk_stream")
    b1 = [Row(v=10), Row(v=100), Row(v=101)]
    b2 = [Row(v=10), Row(v=99), Row(v=120), Row(v=3000)]
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(d / "b1.parquet"))
    spark.createDataFrame(b2).coalesce(1).write.parquet(str(d / "b2.parquet"))

    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*.parquet")
    )
    # the BATCH operator compiles unchanged on the stream — one body,
    # no copy to drift (same contract q136 relies on)
    sketch = dyadic_histogram(stream, "v", sub_bits=5)
    name = f"skstr_{uuid.uuid4().hex[:8]}"
    q = (
        sketch.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    raw = spark.table(name)
    batch = spark.createDataFrame([(r.v,) for r in b1 + b2], "v long")
    expect = sorted(map(tuple, dyadic_histogram(batch, "v").collect()))
    # precondition: the hazard is real — the bucket touched in both
    # batches (v=10x region) left a stale first-batch snapshot behind
    assert raw.count() > len(expect)
    got = sorted(map(tuple, compact_sketch_sink(raw).collect()))
    assert got == expect


def test_session_windows_merge_across_batches(spark, tmp_path_factory):
    """The q154 state-MERGE case: a batch-2 event lands within the gap
    of a batch-1 session, so the stored session must EXTEND (not start
    anew), while a far event opens a second session.  Complete mode
    replaces the sink table per batch, so the final read is the merged
    set with no compaction step."""
    import json
    import uuid

    from pyspark.sql import functions as F

    from etl_marketeye_airflow_spark.streaming.ingest import (
        drain_available_now,
        session_event_totals,
    )

    d = tmp_path_factory.mktemp("sessmerge")
    b1 = [
        {"user_id": 1, "t": "2024-01-01T10:00:00", "value": 1.0},
        {"user_id": 1, "t": "2024-01-01T10:10:00", "value": 2.0},
    ]
    b2 = [
        {"user_id": 1, "t": "2024-01-01T10:25:00", "value": 4.0},  # extends
        {"user_id": 1, "t": "2024-01-01T12:00:00", "value": 8.0},  # new
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in b1))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in b2))
    stream = (
        spark.readStream.schema("user_id long, t string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("_t", F.to_timestamp("t"))
    )
    out = session_event_totals(stream, "30 minutes", "1 hour", "_t")
    name = f"sessm_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    drain_available_now(q)
    got = sorted(
        (r.session_start_us, r.session_end_us, r.n_events, r.total_value)
        for r in spark.table(name).collect()
    )
    h = 3_600_000_000  # 1h in µs; epoch base for 2024-01-01T10:00 UTC
    t0 = int(__import__("datetime").datetime(
        2024, 1, 1, 10, 0, tzinfo=__import__("datetime").timezone.utc
    ).timestamp()) * 1_000_000
    gap = 1_800_000_000
    assert got == [
        (t0, t0 + 25 * 60 * 1_000_000 + gap, 3, 7.0),
        (t0 + 2 * h, t0 + 2 * h + gap, 1, 8.0),
    ]


# ---------------------------------------------------------------------------
# Live-wire integration (opt-in): exercises the REAL JDBC and Mongo
# paths against running servers.  This sandbox has neither a Postgres
# container nor the Mongo connector jar, so these are skipped unless the
# environment provides endpoints:
#
#   MARKETEYE_IT_JDBC_URL=jdbc:postgresql://host:5432/db \
#   MARKETEYE_IT_JDBC_USER=... MARKETEYE_IT_JDBC_PASSWORD=... \
#   MARKETEYE_IT_MONGO_URI=mongodb://host:27017 \
#   python -m pytest tests/test_sinks_streaming.py -k live_wire
#
# Everything the live test exercises is the SAME code path the
# serverless contract tests pin (option maps, DDL list, document rows)
# — this adds only the wire.
# ---------------------------------------------------------------------------


@pytest.mark.skipif(
    not os.environ.get("MARKETEYE_IT_JDBC_URL"),
    reason="live JDBC endpoint not configured (MARKETEYE_IT_JDBC_URL)",
)
def test_live_wire_jdbc_roundtrip(spark, etl):
    from etl_marketeye_airflow_spark.operators.merge import flatten_offers
    from etl_marketeye_airflow_spark.sinks.sinks import (
        write_jdbc_relational,
    )

    url = os.environ["MARKETEYE_IT_JDBC_URL"]
    props = {
        "user": os.environ.get("MARKETEYE_IT_JDBC_USER", ""),
        "password": os.environ.get("MARKETEYE_IT_JDBC_PASSWORD", ""),
        "driver": "org.postgresql.Driver",
    }
    merged = etl
    write_jdbc_relational(merged, flatten_offers(merged), url, props)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "products")
        .options(**props)
        .load()
    )
    assert back.count() == merged.count()


@pytest.mark.skipif(
    not os.environ.get("MARKETEYE_IT_MONGO_URI"),
    reason="live Mongo endpoint not configured (MARKETEYE_IT_MONGO_URI)",
)
def test_live_wire_mongo_roundtrip(etl):
    pymongo = pytest.importorskip("pymongo")
    from etl_marketeye_airflow_spark.sinks.sinks import write_mongo_pymongo

    uri = os.environ["MARKETEYE_IT_MONGO_URI"]
    n = write_mongo_pymongo(
        etl,
        client_factory=lambda: pymongo.MongoClient(uri),
        database="marketeye_it",
        collection="products_it",
    )
    client = pymongo.MongoClient(uri)
    try:
        assert client["marketeye_it"]["products_it"].count_documents({}) == n
    finally:
        client.close()
