"""The benchmark's own tests, at fixture scale.

    python -m pytest perfbench/tests -q

The generator and the checks run without Spark; the end-to-end test runs
the benchmark itself on tiny inputs.
"""

from __future__ import annotations

import csv
import io
import json
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import gen_raw  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _records(path: Path):
    """(parsed records, corrupt lines) of one generated file."""
    text = path.read_text(encoding="utf-8")
    if text.lstrip().startswith("["):
        return json.loads(text), 0
    recs, bad = [], 0
    for line in text.splitlines():
        try:
            recs.append(json.loads(line))
        except json.JSONDecodeError:
            bad += 1
    return recs, bad


def _offer_key(source: str, r: dict) -> tuple:
    if source == "avito":
        return r["url"] or f"https://www.avito.ma/vi/{r['ad_id']}.htm", r["price"], r["title"]
    return r["product_url"], r["price"], r.get("title") or r.get("name")


@pytest.mark.parametrize("ndjson_all", [False, True])
def test_generator_counts_match_what_it_writes(tmp_path, ndjson_all):
    gen = gen_raw.RawGenerator(7)
    counts = gen.batch(tmp_path, 900, ndjson_all=ndjson_all)
    for src, c in counts.items():
        path = tmp_path / gen_raw.FILE_NAMES[src]
        recs, corrupt = _records(path)
        assert corrupt == c.corrupt
        assert len(recs) == c.valid
        assert path.stat().st_size == c.bytes
        keys = [_offer_key(src, r) for r in recs]
        assert len(set(keys)) == c.offers
        assert len(keys) - len(set(keys)) == c.duplicates
    assert counts["avito"].corrupt > 0 and counts["avito"].duplicates > 0
    if not ndjson_all:
        assert (tmp_path / gen_raw.FILE_NAMES["jumia"]).read_text().startswith("[")


def test_generator_is_seeded(tmp_path):
    a = gen_raw.RawGenerator(3).batch(tmp_path / "a", 400)
    b = gen_raw.RawGenerator(3).batch(tmp_path / "b", 400)
    c = gen_raw.RawGenerator(4).batch(tmp_path / "c", 400)
    name = gen_raw.FILE_NAMES["jumia"]
    assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert (tmp_path / "a" / name).read_bytes() != (tmp_path / "c" / name).read_bytes()
    assert gen_raw.totals(a) == gen_raw.totals(b)


def test_generator_plants_the_fixture_dirt(tmp_path):
    gen = gen_raw.RawGenerator(11)
    gen.batch(tmp_path, 2000)
    avito, _ = _records(tmp_path / gen_raw.FILE_NAMES["avito"])
    brands = {r["brand"] for r in avito}
    assert {"NULL", "samsng"} <= brands
    prices = [r["price"] for r in avito]
    assert any("." in p and p.count(",") == 1 and p.index(".") < p.index(",") for p in prices)
    assert any(p.endswith(" DH") and "," in p for p in prices)
    assert any(p.endswith(" MAD") for p in prices)
    assert any(r["url"] is None for r in avito)
    # cross-source overlap: catalog models show up in every source
    jumia, _ = _records(tmp_path / gen_raw.FILE_NAMES["jumia"])
    electro, _ = _records(tmp_path / gen_raw.FILE_NAMES["electroplanet"])

    def models(texts):
        texts = [t.upper() for t in texts]
        return {m for _, m, _, _ in gen_raw.CATALOG for t in texts if m.upper() in t}

    shared = models(r["title"] for r in avito) & models(r["title"] for r in jumia) & models(
        r["name"] for r in electro)
    assert len(shared) > 10


def _write_offers_csv(path: Path, rows: list[dict]) -> None:
    path.mkdir(parents=True)
    with open(path / "part-00000.csv", "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=["product_id", "source", "price"])
        w.writeheader()
        w.writerows(rows)


def _expected_and_rows():
    counts = {s: gen_raw.SourceCounts() for s in gen_raw.SOURCES}
    rows = []
    for i, (src, price) in enumerate([("avito", 100.5), ("avito", 0.0), ("jumia", 2000.0),
                                      ("electroplanet", 999.99)]):
        counts[src].records += 1
        counts[src].prices.append(price)
        rows.append({"product_id": f"p{i}", "source": checks.SOURCE_LABEL[src], "price": price})
    expected = gen_raw.totals(counts)
    stats = {"total_offers": 4, "min_price": 100.5, "max_price": 2000.0,
             "avg_price": (100.5 + 2000.0 + 999.99) / 3}
    return expected, stats, rows


def test_etl_check_passes_on_matching_outputs(tmp_path):
    expected, stats, rows = _expected_and_rows()
    _write_offers_csv(tmp_path / "csv", rows)
    csv_stats = checks.offers_csv_stats(tmp_path / "csv")
    assert checks.check_etl_outputs(stats, csv_stats, expected) == []


def test_dropped_offer_row_fails_the_check(tmp_path):
    expected, stats, rows = _expected_and_rows()
    _write_offers_csv(tmp_path / "csv", rows[:-1])
    bad = checks.check_etl_outputs(stats, checks.offers_csv_stats(tmp_path / "csv"), expected)
    assert any("csv offers 3" in b for b in bad)
    assert any("per-source" in b for b in bad)


def test_digest_is_order_insensitive_and_value_exact():
    rows = [(1, 0.1, "a"), (2, None, "b")]
    d = checks.digest(["id", "x", "s"], rows)
    assert d == checks.digest(["s", "id", "x"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert d != checks.digest(["id", "x", "s"], [(1, 0.1 + 1e-16 * 2, "a"), (2, None, "b")])
    assert d != checks.digest(["id", "x", "s"], rows[:1])


def test_pinned_registry_digests_equal_the_duckdb_oracle():
    import duckdb
    import workloads
    from etl_marketeye_airflow_spark.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    for t in workloads.REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{workloads.REGISTRY_DIR / t}.parquet')")
    for qid, name in workloads.REGISTRY_QUERIES.items():
        cur = con.execute(sql[name])
        got = checks.digest([d[0] for d in cur.description], cur.fetchall())
        assert got == workloads.REGISTRY_DIGESTS[qid], qid


class _FakeWorkload:
    """Operations whose checks fail on demand, to exercise the runner's
    failure accounting."""

    spark = None
    min_ops = 1

    def __init__(self, failing: set[int]):
        self.failing = failing
        self.n = 0
        self.samples = []

    def op(self):
        self.n += 1
        if self.n == 2:
            raise RuntimeError("boom")
        self.samples.append({})
        return ["digest changed"] if self.n in self.failing else []


def test_failed_checks_and_raised_operations_count_as_failures():
    wl = _FakeWorkload({3})
    attempted, failures = run.run_ops(wl, 0)
    assert (attempted, failures) == (1, [])
    for _ in range(3):
        a, f = run.run_ops(wl, 0)
        attempted += a
        failures += f
    assert attempted == 4
    assert len(failures) == 2
    assert "operation raised RuntimeError" in failures[0] and "digest changed" in failures[1]


def test_benchmark_json_lists_every_layer_metric_with_its_unit():
    assert [m["name"] for m in BENCHMARK["per_layer"]] == list(layers.PER_LAYER)
    for m in BENCHMARK["per_layer"]:
        spec = layers.PER_LAYER[m["name"]]
        assert (m["unit"], m["better"]) == (spec["unit"], spec["better"])
    assert len(BENCHMARK["per_layer"]) <= 128
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOAD_NAMES)


def _run(argv) -> tuple[dict, dict]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run.main(argv) == 0
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-2].removeprefix("report ")), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_appears_with_its_unit(monkeypatch, trace):
    """The benchmark end to end on tiny inputs: all checks pass and the
    result line carries every metric of its mode, each with its unit."""
    import workloads

    monkeypatch.setattr(workloads, "DAG_RECORDS", 600)
    report, result = _run(["--workload", "dag_daily", "--seed", "5", "--seconds", "0",
                           "--trace", str(trace)])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["failure_ratio"] == 0
    want = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if trace:
        m = result["metrics"]
        assert m["dags.run_etl_calls"]["value"] == 2
        assert m["sources.jumia.partitions"]["value"] == 1
        assert m["merge.offers_out"]["value"] > 0
        # every layer is measured, the registry's too: no time reads a constant 0
        assert all(v["value"] > 0 for v in m.values() if v["unit"] in ("s", "ms"))
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_changed_registry_digest_fails_the_run(monkeypatch):
    import workloads

    monkeypatch.setitem(workloads.REGISTRY_DIGESTS, "q01", "5:" + "0" * 32)
    report, result = _run(["--workload", "registry_hot", "--seed", "1", "--seconds", "0",
                           "--trace", "0"])
    # the warm-up operation and each timed one fail
    min_ops = workloads.RegistryHot.min_ops
    assert not result["correct"] and result["failed"] == 1 + min_ops == result["attempted"]
    assert report["failure_ratio"] == 1
    assert all("q01: result" in f for f in report["failures"])
