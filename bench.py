"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per-query time = wall clock of plan build + execution to completion.
The action is sum(xxhash64(struct(all output columns))) — unlike
count(), which Catalyst strips projections under, this forces every
output expression to actually evaluate, while still returning one row
(no driver-side row-transfer noise).  A JVM warm-up query runs first so
fixed session spin-up isn't charged to the first query.

De-noising (round 4): queries run in FIXED NUMERIC ORDER — deliberately
independent of the registry's driver-sweep ordering, which rotates
round-to-round and was shown (r2→r3) to masquerade as 1.5-3x
regressions on unchanged plans — and each query's reported time is the
MIN OF 3 consecutive repeats (cache cleared before each), the standard
noise-floor estimator.  Round-over-round deltas on unchanged queries
should now sit within ~±20%, so a real regression is visible.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from etl_marketeye_airflow_spark import queries as registry
from etl_marketeye_airflow_spark.session import get_spark

# Host-normalization constants (r10 verdict task 7; see README "Verify /
# bench").  NOMINAL_MEMSUM_S: a 200 MB alloc+sum at nominal DRAM
# bandwidth (probes/r10_bench_variance.json: 0.1-0.15 s).  BETA: the
# suite is only PARTLY bandwidth-bound — the r10 matched-subset bisect
# moved 1.7x between windows whose memsum moved ~8x (ln 1.7 / ln 8 ~
# 0.26), so a linear correction would over-correct ~20x.
NOMINAL_MEMSUM_S = 0.15
BETA = 0.25


def value_norm(value: float, memsum_med: float) -> float:
    """Suite seconds projected onto a nominal-bandwidth host."""
    return round(
        value * (NOMINAL_MEMSUM_S / max(NOMINAL_MEMSUM_S, memsum_med)) ** BETA,
        3,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)

    # warm up JVM / codegen path and table metadata (parquet footer reads
    # are session-level one-time costs, not per-query work), uncharged
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # fork the Python/Arrow worker pool once, uncharged — like executor
    # JVM startup, worker forking is a session-level cost (~4 s across 32
    # cores), not part of any query's work; workers are reused afterwards
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(1_000_000).repartition(cpus).select(_warm("id")).agg(
        {"_warm(id)": "sum"}
    ).collect()

    # JIT-warm the interpreted higher-order-function + regex eval paths
    # (array filter/transform/aggregate run outside wholestage codegen;
    # their first ~10^6 interpreted ops pay C2 compilation, a JVM-level
    # one-time cost, not any query's data work)
    from pyspark.sql import functions as _F

    spark.range(200_000).repartition(cpus).select(
        _F.sum(
            _F.size(
                _F.filter(
                    _F.split(_F.regexp_replace(_F.concat(_F.lit("a b c d "), "id"), r"\s+", " "), " "),
                    lambda t: _F.array_contains(_F.array(_F.lit("a"), _F.lit("b")), t),
                )
            )
            + _F.aggregate(
                _F.transform(_F.sequence(_F.lit(1), _F.lit(8)), lambda i: i * 2),
                _F.lit(0),
                lambda acc, v: acc + v,
            )
        )
    ).collect()
    from etl_marketeye_airflow_spark.sources.tables import TABLES

    for t in TABLES:
        if t == "events":
            continue  # nano-timestamp table: queries set nanosAsLong themselves
        spark.read.parquet(f"{sf_dir}/{t}.parquet").schema

    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    def force_full_eval(df) -> None:
        """One-row action that can't skip output expressions: hash every
        column (maps stringified first — hash of MapType is disallowed)
        and sum the hashes."""
        cols = [
            F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
            for f in df.schema.fields
        ]
        # decimal sum: a long sum of 64-bit hashes overflows under ANSI
        df.select(F.xxhash64(F.struct(*cols)).alias("_h")).agg(
            F.sum(F.col("_h").cast("decimal(38,0)"))
        ).collect()

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Hang watchdog: one observed failure mode (round 6) is a python
    # worker vanishing mid-task — the executor thread blocks forever in
    # BasePythonRunner.read and a silent bench never finishes.  Each
    # attempt runs under a job group; a timer cancels the group past the
    # deadline so ONE stuck attempt costs bounded time and the suite
    # still emits its JSON line (the query records the sentinel time,
    # visibly huge).  Worst honest query is ~41 s at sf1, so 240 s
    # never clips a real run.
    timeout_s = float(os.environ.get("SPARK_GRAFT_BENCH_TIMEOUT", "240"))
    # Streaming attempts can't be axed by job-group cancel (micro-batch
    # jobs run under StreamExecution's own group, and the main thread is
    # parked in the drain, not in a job) — their bound is the drain's
    # own timeout, so align it with ours unless the user pinned one.
    os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT", str(timeout_s))
    import threading

    def timed_attempt(name: str, fn) -> float:
        sc = spark.sparkContext
        group = f"bench-{name}"
        done = threading.Event()

        def axe():
            if done.wait(timeout_s):
                return
            print(f"[bench] {name} TIMEOUT after {timeout_s:.0f}s — "
                  "cancelling job group", file=sys.stderr, flush=True)
            # cancelJobGroup only kills jobs RUNNING at call time; a
            # multi-job attempt (eager operators) could submit the next
            # job right after — keep axing until the attempt returns
            while not done.is_set():
                sc.cancelJobGroup(group)
                done.wait(2)

        watchdog = threading.Thread(target=axe, daemon=True)
        watchdog.start()
        sc.setJobGroup(group, f"bench attempt {name}", interruptOnCancel=True)
        t0 = time.time()
        try:
            force_full_eval(fn(spark, sf_dir))
            return time.time() - t0
        except Exception as e:  # noqa: BLE001 — cancelled or genuinely failed
            # ALWAYS say why: a query that raises instantly (e.g. a
            # renamed column) must not masquerade as a slow one with no
            # trace — the sentinel time plus this line keep it loud.
            # Py4JJavaError's FIRST line is just "error calling o…" —
            # surface the Java-side cause line too, it's the diagnosis
            # (r9: a CC-composite failure at sf10 was undebuggable from
            # the truncated form).
            detail = (str(e).splitlines() or [""])[0][:200]
            jexc = getattr(e, "java_exception", None)
            if jexc is not None:
                try:
                    detail += " | java: " + jexc.toString()[:300]
                except Exception:  # noqa: BLE001 — gateway already gone
                    pass
            print(
                f"[bench] {name} attempt FAILED after "
                f"{time.time() - t0:.1f}s: {type(e).__name__}: {detail}",
                file=sys.stderr,
                flush=True,
            )
            return timeout_s
        finally:
            done.set()
            sc.setJobGroup("", "")

    # Machine calibration (r10, sampled r11): code-independent fixed
    # workloads so a round-over-round suite delta can be attributed.
    # r9→r10 evidence: IDENTICAL r9-HEAD code measured 9.3 s vs 16.0 s
    # on a matched 5-query subset in two wall-clock windows — host
    # co-tenancy moves throughput ~1.7×, dwarfing any plan change.
    # pyloop ≈ single-core interpreter speed; matmul ≈ multi-core
    # FLOPS; memsum ≈ memory bandwidth.  r11: a single end-of-run
    # snapshot proved unrepresentative (r10: suite 278.2 s @ memsum
    # 2.68 vs 278.8 s @ 21.7 — same code), so sample at start, middle,
    # and end of the sweep and report the per-axis MEDIAN.
    import numpy as _np

    def _calib_sample() -> dict:
        t0 = time.time()
        a = _np.random.RandomState(0).rand(2048, 2048)
        _ = a @ a
        mat = time.time() - t0
        t0 = time.time()
        s = 0
        for i in range(2_000_000):
            s += i
        py = time.time() - t0
        t0 = time.time()
        _ = float(_np.sum(_np.ones(25_000_000)))
        mem = time.time() - t0
        return {"matmul2048_s": round(mat, 3),
                "pyloop2m_s": round(py, 3),
                "memsum200mb_s": round(mem, 3)}

    jvm = spark.sparkContext._jvm

    def codegen_totals() -> tuple[int, float]:
        """(Janino compiles, compile ms) so far in this JVM: the count of
        Spark's CodegenMetrics compile histogram and CodeGenerator's
        exact sum of the same compile durations.  Read outside the timed
        region; a JVM without them reads zeros."""
        try:
            n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
            ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
            return int(n), ns / 1e6
        except Exception:  # noqa: BLE001 — observability only
            return 0, 0.0

    calib_samples = [_calib_sample()]
    calib_positions = [0]  # sweep index each sample was taken at

    timings: dict[str, float] = {}
    # per query: Janino compiles + compile ms of the first attempt and of
    # the repeats together (a repeat served from the codegen cache
    # compiles nothing) — bench_full.json only
    codegen: dict[str, dict] = {}
    # fixed numeric order, NOT the rotating driver-sweep order — bench
    # deltas must compare like with like across rounds.  The optional
    # SPARK_GRAFT_BENCH_NAMES=qa,qb filter exists for targeted scale
    # probes (sf10 runs a ~15-query data-heavy subset); the driver's
    # per-round run never sets it.
    names_env = os.environ.get("SPARK_GRAFT_BENCH_NAMES", "")
    only = {n.strip() for n in names_env.split(",") if n.strip()}
    unknown = only - set(registry.QUERIES)
    assert not unknown, f"SPARK_GRAFT_BENCH_NAMES unknown: {sorted(unknown)}"
    bench_names = [
        n for n in sorted(registry.QUERIES, key=lambda n: (n[1:3], n))
        if not only or n in only
    ]
    for qi, name in enumerate(bench_names):
        if qi == len(bench_names) // 2 and qi > 0:
            calib_samples.append(_calib_sample())
            calib_positions.append(qi)
        fn = registry.QUERIES[name]
        # r9 verdict task 2: the driver sweep read 30% slower than the
        # like-for-like local probe, concentrated on SHORT queries (q74:
        # 5.01 s driver vs 1.47 s probe) — consistent with GC debris
        # from earlier HEAVY queries landing mid-measurement.  One
        # explicit full GC per query (0.15-0.9 s measured; per-attempt
        # would add ~10 min of wall across 615 attempts) + a short
        # settle moves that pause out of the timed window.  Guarded:
        # a JVM without System.gc just skips it.
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — perf hygiene only
            pass
        time.sleep(0.05)
        best = float("inf")
        compiled: list[tuple[int, float]] = []
        for _ in range(max(1, runs)):
            # fan-out operators (minhash/simhash/vocab) unpersist their
            # own bases (eager materialize-then-release); the sweep here
            # is belt-and-braces isolation so no leak can feed a later
            # repeat/query a cache hit and skew its timing
            spark.catalog.clearCache()
            # clearCache() covers the SQL cache ONLY — the blocks behind
            # eager operators' localCheckpoint()/persist() RESULTS (the
            # frame a query returns and bench then drops) sit at the RDD
            # layer and wait on JVM GC + the async ContextCleaner.  Over
            # a long sweep they accumulate and squeeze the heap: measured
            # at sf10, q99 is 344 s in a fresh session but >900 s (with
            # GCLocker retry warnings) as the 24th query of a sweep.
            # Deterministic release keeps timings independent of sweep
            # position.  Safe between attempts: nothing is live, and the
            # next attempt rebuilds its own checkpoints from scratch.
            try:
                # private API (no public PySpark enumeration of RDD-layer
                # blocks); guarded so a PySpark internals change degrades
                # to position-dependent timings instead of killing the run
                for _rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                    _rdd.unpersist(False)
            except Exception as rel_err:  # noqa: BLE001
                print(
                    f"[bench] RDD release unavailable ({rel_err!r}); "
                    "timings may depend on sweep position",
                    file=sys.stderr,
                    flush=True,
                )
            c0 = codegen_totals()
            best = min(best, timed_attempt(name, fn))
            c1 = codegen_totals()
            compiled.append((c1[0] - c0[0], c1[1] - c0[1]))
        timings[name] = round(best, 3)
        codegen[name] = {
            part: {"compiles": sum(c[0] for c in cs),
                   "compile_ms": round(sum(c[1] for c in cs), 1)}
            for part, cs in (("first", compiled[:1]), ("repeats", compiled[1:]))
        }
        # progress to STDERR only — the driver parses the one stdout
        # JSON line; this is for humans tailing a long sf1 run (and for
        # locating a hang, which burned 16 min of a round-6 probe)
        print(f"[bench] {name} {best:.2f}s", file=sys.stderr, flush=True)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Reporting contract (r6 verdict item 3): the driver captures only
    # the LAST ~2 KB of stdout, so the full 190-query map (~5-7 KB) made
    # BENCH_r02..r06 unparseable ("parsed": null).  The last stdout line
    # is now a compact <=1 KB summary (total + top-5 slowest); the full
    # per-query map goes to stderr and bench_full.json for humans.
    calib_samples.append(_calib_sample())
    calib_positions.append(len(bench_names))
    calib = {
        axis: round(sorted(s[axis] for s in calib_samples)[len(calib_samples) // 2], 3)
        for axis in calib_samples[0]
    }
    # Host-normalized suite total (r10 verdict task 7): constants and
    # model documented at value_norm() above.  value stays the headline
    # metric; value_norm is the cross-round comparison starting point.
    value = round(sum(timings.values()), 3)
    norm = value_norm(value, calib["memsum200mb_s"])
    # Per-query host normalization (r11 verdict task 4): the suite
    # TOTAL was normalized since r10, but per-query spikes in a
    # contended driver window still read as regressions (q154: 12.1 s
    # driver vs 3.2 s same-code calm window).  Normalize each query by
    # the memsum of the calib sample NEAREST its sweep position — the
    # closest code-independent read of the host state when that query
    # actually ran (same 0.25-exponent model as the total).
    queries_norm = {
        name: value_norm(
            t,
            calib_samples[
                min(
                    range(len(calib_positions)),
                    key=lambda si: abs(calib_positions[si] - qi),
                )
            ]["memsum200mb_s"],
        )
        for qi, (name, t) in enumerate(timings.items())
    }
    full = {
        "metric": "registry_suite_seconds",
        "value": value,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "runs": runs,
        "calib": calib,
        "calib_samples": calib_samples,
        "value_norm": norm,
        "queries_norm": queries_norm,
        "calib_positions": calib_positions,
        "norm_model": f"value*({NOMINAL_MEMSUM_S}/max({NOMINAL_MEMSUM_S},memsum_med))^{BETA}",
        "codegen": codegen,
    }
    print("[bench] full: " + json.dumps(full), file=sys.stderr, flush=True)
    # subset probes (SPARK_GRAFT_BENCH_NAMES) must not clobber the
    # committed full-registry map (r11: an sf1 2-query probe did)
    out_name = "bench_full.json" if not only else "bench_subset.json"
    with open(Path(__file__).resolve().parent / out_name, "w") as f:
        json.dump(full, f, indent=1)
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])

    def compact_line(k: int) -> str:
        # r13 (verdict item 2): the round-over-round per-query
        # comparison covered only the top-5 slowest (n_common=3 in
        # PERF_r12 — structurally uninformative).  Widen `queries` to
        # as many of the slowest as fit the driver's <=1KB stdout
        # budget (additions-only: the old top-5 are always a prefix of
        # the new list).  queries_norm stays the top-5 twins — its r12
        # role (making a contended-window spike readable) only needs
        # the head, and widening BOTH maps would halve the new
        # coverage.  Tail entries (rank 6+) carry 2 decimals — the
        # head keeps the r12 precision, and ~10 ms resolution is far
        # below window noise on sub-3 s queries.
        slowest = {
            n: (t if i < 5 else round(t, 2)) for i, (n, t) in enumerate(ranked[:k])
        }
        return json.dumps(
            {
                "metric": "registry_suite_seconds",
                "value": value,
                "unit": "sec",
                "sf": sf_val,
                "runs": runs,
                "n_queries": len(timings),
                "queries": slowest,
                "queries_norm": {n: queries_norm[n] for n, _ in ranked[:5]},
                "calib": calib,
                "value_norm": norm,
                "full_map": f"stderr + {out_name}",
            }
        )

    k = 5
    while k < len(ranked) and len(compact_line(k + 1)) <= 1024:
        k += 1
    line = compact_line(k)
    assert len(line) <= 1024, f"compact bench line {len(line)}B > 1KB"
    print(line)


if __name__ == "__main__":
    main()
