"""Output checks.  Each returns a list of failure messages (empty = pass);
the runner counts an operation as failed when any of its checks fails."""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

# the registry's correctness tool, whose canonical row form the digests use
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

REL_TOL = 1e-9


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=REL_TOL)


def offers_csv_stats(csv_dir: Path) -> dict:
    """DuckDB's own read of the CSV sink: totals, price aggregates and
    offers per source."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE o AS SELECT * FROM read_csv(?, header=true, escape='\\', "
            "types={'price': 'DOUBLE', 'source': 'VARCHAR'})",
            [str(csv_dir / "*.csv")],
        )
        n, n_priced, lo, hi, avg = con.execute(
            "SELECT count(*), count(*) FILTER (price > 0), min(price) FILTER (price > 0), "
            "max(price) FILTER (price > 0), avg(price) FILTER (price > 0) FROM o"
        ).fetchone()
        per_source = dict(con.execute("SELECT source, count(*) FROM o GROUP BY 1").fetchall())
    finally:
        con.close()
    return {"offers": n, "priced_offers": n_priced, "price_min": lo, "price_max": hi,
            "avg_price": avg, "per_source": per_source}


SOURCE_LABEL = {"avito": "Avito", "jumia": "Jumia", "electroplanet": "Electroplanet"}


def check_etl_outputs(stats: dict, csv: dict, expected: dict) -> list[str]:
    """``task_etl``'s statistics and the CSV sink against the generator's
    counts, and against each other."""
    bad = []
    if stats.get("total_offers") != expected["offers"]:
        bad.append(f"total_offers {stats.get('total_offers')} != generated {expected['offers']}")
    if csv["offers"] != expected["offers"]:
        bad.append(f"csv offers {csv['offers']} != generated {expected['offers']}")
    want_src = {SOURCE_LABEL[s]: n for s, n in expected["per_source_offers"].items() if n}
    if csv["per_source"] != want_src:
        bad.append(f"csv per-source {csv['per_source']} != generated {want_src}")
    for key, stat_key in (("price_min", "min_price"), ("price_max", "max_price"),
                          ("avg_price", "avg_price")):
        if not _close(csv[key], expected[key]):
            bad.append(f"csv {key} {csv[key]} != generated {expected[key]}")
        if not _close(stats.get(stat_key), csv[key]):
            bad.append(f"task_etl {stat_key} {stats.get(stat_key)} != DuckDB {csv[key]}")
    return bad


def catalog_summary(catalog_dir: Path) -> tuple[set[str], int]:
    """Product ids and offer count of a JSON catalog written by Spark."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT product_id, len(offers) FROM read_json(?, format='newline_delimited', "
            "columns={'product_id': 'VARCHAR', 'offers': 'JSON[]'})",
            [str(catalog_dir / "*.json")],
        ).fetchall()
    finally:
        con.close()
    return {r[0] for r in rows}, sum(r[1] for r in rows)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: the canonical rows of the
    registry's correctness tool (columns by name, rows sorted), hashed."""
    from check_correctness import canon_rows

    h = hashlib.blake2b(digest_size=16)
    h.update("\x1e".join(sorted(columns)).encode())
    lines = canon_rows(columns, rows)
    for line in lines:
        h.update(b"\x1d" + "\x1f".join(line).encode())
    return f"{len(lines)}:{h.hexdigest()}"
