"""Sinks (S4-S8 in SURVEY.md §2.1).

Reference behaviors (cites into /root/reference/ETL-marketeye_airflow-main/):
- S4 JSON products: dags/marketeye_etl_dag.py:279-281, :726-728.  The
  reference pretty-prints one big file; the engine writes NDJSON parts
  (content parity is the target, not byte layout — a single driver-side
  file would not scale).
- S5 CSV flattened offers: plugins/marketeye_operators.py:329-365.
- S6 PostgreSQL products+offers with indexes: dags/marketeye_etl_dag.py:838-927.
  Expressed as a JDBC write; index DDL is driver-side post-write (Spark
  has no index concept).  Import/connection-gated so the pipeline tests
  run without a server.
- S7 MongoDB nested documents: dags/marketeye_etl_dag.py:929-980 — needs
  the mongo-spark connector jar; gated the same way.
- S8 timestamped JSON backup: dags/marketeye_etl_dag.py:982-1010.

Full-overwrite everywhere: the reference's daily model is "full
recompute, last write wins" (if_exists='replace' / delete_many({})).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MASTER_SCHEMA


def write_json_products(merged: DataFrame, path: str) -> None:
    """S4: nested master documents as NDJSON (overwrite)."""
    merged.write.mode("overwrite").json(path)


def read_json_products(spark: SparkSession, path: str) -> DataFrame:
    """Inverse of ``write_json_products``: the catalog read back with the
    master schema, so a field the writer omitted (null in every row it
    wrote) comes back as an explicit null, not a missing column."""
    return spark.read.schema(MASTER_SCHEMA).json(path)


def write_csv_offers(offers_flat: DataFrame, path: str) -> None:
    """S5: flat one-row-per-offer CSV with header (overwrite)."""
    offers_flat.write.mode("overwrite").option("header", True).csv(path)


def write_timestamped_backup(merged: DataFrame, backup_dir: str, now: dt.datetime | None = None) -> str:
    """S8: timestamped backup copy; returns the written path."""
    stamp = (now or dt.datetime.now()).strftime("%Y%m%d_%H%M%S")
    path = f"{backup_dir.rstrip('/')}/marketeye_backup_{stamp}"
    merged.write.mode("overwrite").json(path)
    return path


# JDBC index DDL mirroring dags/marketeye_etl_dag.py:910-917.
_JDBC_INDEX_DDL = (
    "CREATE INDEX IF NOT EXISTS idx_products_product_id ON products (product_id)",
    "CREATE INDEX IF NOT EXISTS idx_products_brand ON products (brand)",
    "CREATE INDEX IF NOT EXISTS idx_offers_product_id ON offers (product_id)",
    "CREATE INDEX IF NOT EXISTS idx_offers_source ON offers (source)",
    "CREATE INDEX IF NOT EXISTS idx_offers_price ON offers (price)",
)


def relational_tables(merged: DataFrame, offers_flat: DataFrame) -> dict[str, DataFrame]:
    """S6 shape: products (specs serialized to JSON string, F16) + offers."""
    products = merged.select(
        "product_id",
        "brand",
        "model",
        "product_name",
        "category",
        F.to_json("specifications").alias("specifications"),
        F.col("metadata.created_at").alias("created_at"),
        F.col("metadata.last_updated").alias("last_updated"),
    )
    return {"products": products, "offers": offers_flat}


def jdbc_table_options(jdbc_url: str, table: str, properties: dict[str, str] | None = None) -> dict[str, str]:
    """The exact option map a JDBC table write sends (pure — contract-
    tested without a server in tests/test_sinks_streaming.py)."""
    opts = {"url": jdbc_url, "dbtable": table}
    opts.update(properties or {})
    return opts


def write_jdbc_relational(
    merged: DataFrame,
    offers_flat: DataFrame,
    jdbc_url: str,
    properties: dict[str, str] | None = None,
    create_indexes: bool = True,
    connection_factory=None,
) -> None:
    """S6: overwrite products+offers via JDBC, then index DDL driver-side.

    Raises a clear error when no JDBC driver/server is reachable — the
    caller (Airflow task) owns retries per the reference's retry policy.
    ``connection_factory`` (url, user, password) → DB-API-ish connection
    is injectable so the DDL contract is testable serverless.
    """
    props = dict(properties or {})
    for name, df in relational_tables(merged, offers_flat).items():
        writer = df.write.format("jdbc").mode("overwrite")
        for k, v in jdbc_table_options(jdbc_url, name, props).items():
            writer = writer.option(k, v)
        writer.save()
    if create_indexes:
        _run_jdbc_ddl(jdbc_url, props, _JDBC_INDEX_DDL, connection_factory)


def _default_connection_factory(jdbc_url: str, user: str, password: str):
    from py4j.java_gateway import java_import
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    jvm = spark._jvm
    java_import(jvm, "java.sql.DriverManager")
    return jvm.java.sql.DriverManager.getConnection(jdbc_url, user, password)


def _run_jdbc_ddl(
    jdbc_url: str,
    props: dict[str, str],
    statements: tuple[str, ...],
    connection_factory=None,
) -> None:
    factory = connection_factory or _default_connection_factory
    conn = factory(jdbc_url, props.get("user", ""), props.get("password", ""))
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
    finally:
        conn.close()


def mongo_write_options(uri: str, database: str, collection: str) -> dict[str, str]:
    """The exact option map the Mongo write sends (pure — contract-tested
    without the connector jar)."""
    return {"connection.uri": uri, "database": database, "collection": collection}


# Index specs mirroring the reference's create_index calls
# (dags/marketeye_etl_dag.py:964-967): product_id unique, brand, price.
MONGO_INDEX_SPECS: tuple[tuple[list[tuple[str, int]], dict], ...] = (
    ([("product_id", 1)], {"unique": True}),
    ([("brand", 1)], {}),
    ([("price", 1)], {}),
)


def mongo_document_rows(merged: DataFrame) -> DataFrame:
    """S7 document assembly, pure and serverless-testable: one JSON string
    per row — EXACTLY the dict ``insert_many`` receives, i.e. the
    reference's final nested product document (ids, offers array, spec
    map, metadata struct; dags/marketeye_etl_dag.py:938-941,960-962).
    ``ignoreNullFields=false`` keeps nulls as explicit JSON nulls the way
    the reference's ``json.load`` of the final file does — Spark's
    default to_json would silently drop them and change the document
    shape."""
    cols = [F.col(c) for c in merged.columns]
    return merged.select(
        F.to_json(F.struct(*cols), {"ignoreNullFields": "false"}).alias("doc_json")
    )


def _client_close(client) -> None:
    close = getattr(client, "close", None)
    if callable(close):
        close()


def write_mongo_pymongo(
    merged: DataFrame,
    client_factory,
    database: str = "marketeye",
    collection: str = "products",
    batch_size: int = 1000,
) -> int:
    """S7 executable without the Spark connector jar: wipe-then-insert of
    the assembled nested documents + the reference's 3 index DDLs
    (dags/marketeye_etl_dag.py:929-980 parity).

    ``client_factory`` is a no-arg callable returning a pymongo-style
    client (``client[db][coll]`` → delete_many/insert_many/create_index).
    It is shipped INSIDE the per-partition closure, so it must pickle by
    value for tests (define fakes as closures, not module-level test
    functions — workers can't import tests.*; see the enrichment-client
    note in tests/test_sinks_streaming.py) and the real one must build
    its connection lazily (one client per partition — the scale shape;
    never a driver-side collect of the corpus).

    Driver-side work is exactly the reference's: one wipe before, index
    DDL after. Returns the inserted-document count."""
    docs = mongo_document_rows(merged).persist()
    try:
        n = docs.count()
        client = client_factory()
        try:
            client[database][collection].delete_many({})
        finally:
            _client_close(client)

        def _insert_partition(rows) -> None:
            import json as _json

            cli = client_factory()
            try:
                coll = cli[database][collection]
                batch = []
                for row in rows:
                    batch.append(_json.loads(row.doc_json))
                    if len(batch) >= batch_size:
                        coll.insert_many(batch)
                        batch = []
                if batch:
                    coll.insert_many(batch)
            finally:
                close = getattr(cli, "close", None)
                if callable(close):
                    close()

        docs.foreachPartition(_insert_partition)
        client = client_factory()
        try:
            coll = client[database][collection]
            for keys, kwargs in MONGO_INDEX_SPECS:
                coll.create_index(keys, **kwargs)
        finally:
            _client_close(client)
        return n
    finally:
        docs.unpersist()


def default_mongo_client_factory(uri: str):
    """Real pymongo factory (import deferred to call time — the package
    isn't in this environment; inject a fake for serverless tests)."""

    def _connect():
        try:
            from pymongo import MongoClient
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "S7 pymongo path requires the pymongo package; "
                "pass write_mongo_pymongo a custom client_factory instead"
            ) from e
        return MongoClient(uri)

    return _connect


def write_mongo_documents(merged: DataFrame, uri: str, database: str, collection: str) -> None:
    """S7: nested documents to MongoDB (overwrite = wipe-and-insert parity).

    Requires the mongo-spark connector on the classpath; raises Spark's
    DATA_SOURCE_NOT_FOUND otherwise (gate at the Airflow-task level).
    """
    writer = merged.write.format("mongodb").mode("overwrite")
    for k, v in mongo_write_options(uri, database, collection).items():
        writer = writer.option(k, v)
    writer.save()
