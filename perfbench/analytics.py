"""``analytics``: a closed loop with one client and no think time over
a fixed mix of oracle-checked catalog entries.

The entries read the engine's sf0.1 test tables
(``sources.batch.DEFAULT_SF_DIR``), linked under a fresh directory
name per run: the catalog keys its on-disk caches by that name, so
every run builds its own caches during set-up. The seed only shuffles
the order of the entries.

Set-up runs every entry once untimed: that pass warms the JVM and
codegen, builds the index/model caches the entries read, and checks
each result against its DuckDB oracle (row count and
order-insensitive values; entries without an oracle must return
rows). One more untimed pass, in order, lets the JIT settle: the
first pass after the cold executions is still about 30% slower (run
on the warm-up threads, it settles less). The timed loop then makes
``max(2, ceil(--seconds / PASS_S))`` whole passes over the mix, each
in a seed-shuffled order; a fixed pass count keeps the sample count
the same on a slower host. Each execution is the catalog builder call
plus a write into Spark's noop sink, so eager entries build inside the clock.

Metrics: ``log_s`` and ``llm_s`` are the median per-pass wall time of
the log-analytics half of the mix (search, relational, log parsing)
and of its LLM-read half (dedup, ANN, text, sampling);
``latency_ms`` (geometric mean) and ``latency_ms_tail`` (p90) are over
single executions.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

from run import CORRUPT, p50, tail, typical

# Operator family -> entries. Families name the per-layer metrics.
# Warm-up starts the entries in this order. Starting the index build
# of knn_ivfpq_indexed first, beside three other heavy entries, made
# the warm-up about 5 s longer than starting it fifth.
MIX = {
    "search": ("q02_fulltext_search",),
    "relational": ("tpch_q3",),
    "logs": ("logs_apache_parse",),
    "dedup": ("dedup_minhash_lsh",),
    "ann": ("knn_ivfpq_indexed",),
    "text": ("text_tfidf_top",),
    "sampling": ("docs_training_pipeline",),
}
LOG_HALF = ("search", "relational", "logs")  # the rest are LLM reads
WARM_THREADS = 4
PASS_S = 6  # nominal seconds per pass over sf0.1 on a 4-CPU host
FAMILY = {name: fam for fam, names in MIX.items() for name in names}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rows_key(cols, rows):
    """Order-insensitive canonical form: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def _check_entry(ctx, con, name, rows, cols, oracle) -> None:
    if oracle is None:
        ctx.check(f"analytics.{name}", len(rows) > 0, "no rows")
        return
    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    ok = len(rows) == len(drows) and sorted(cols) == sorted(dcols)
    ok = ok and _rows_key(cols, rows) == _rows_key(dcols, drows)
    ctx.check(f"analytics.{name}", ok, f"spark={len(rows)} rows duckdb={len(drows)} rows")


def _execute(ctx, qs, name, sf_dir, trace_id):
    """One timed execution: builder call + noop write. Returns
    (wall s, builder s)."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("query", trace_id):
        with tr.span("catalog.build"):
            df = qs[name](ctx.spark, sf_dir)
        t1 = time.perf_counter()
        with tr.span("noop_write"):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, t1 - t0


def run(ctx) -> dict[str, float]:
    import duckdb

    from spans import max_stage_id, stage_window

    from unified_log_aggregation_and_analytics_spark.schemas import TESTDATA_TABLES

    # the basename keys the catalog's on-disk caches: one fresh set per run
    sf_dir = ctx.path(ctx.tag)
    os.makedirs(sf_dir)
    for t in TESTDATA_TABLES:
        os.symlink(os.path.join(ctx.sf_dir, f"{t}.parquet"), os.path.join(sf_dir, f"{t}.parquet"))
    spark = ctx.start_spark()
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    names = [n for fam in MIX.values() for n in fam]
    t0 = time.perf_counter()
    # warm-up + oracle checks, outside the clock; entries run on a few
    # threads so their first-execution code generation overlaps
    from concurrent.futures import ThreadPoolExecutor

    def warm(name):
        t = time.perf_counter()
        df = qs[name](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        ctx.report[f"warm_ms.{name}"] = ((time.perf_counter() - t) * 1e3, "ms")
        return name, rows, df.columns

    damaged = next(n for n in names if oracles.get(n)) if CORRUPT else None
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        for name, rows, cols in pool.map(warm, names):
            if name == damaged:
                rows = rows[:-1]  # self-test: a damaged result must fail its check
            _check_entry(ctx, con, name, rows, cols, oracles.get(name))
    con.close()
    for name in names:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    ctx.report["setup.warm_s"] = (time.perf_counter() - t0, "s")

    rng = np.random.default_rng([ctx.seed, 7])
    stage0 = max_stage_id(spark) if ctx.traced else -1
    ctx.setup_done()
    t_start = time.time()
    passes: list[tuple[bool, float]] = []
    lat_ms, build_ms, entry_ms = [], [], []
    fam_s: dict[str, list[float]] = {f: [] for f in MIX}
    n_passes = max(4 if ctx.traced else 2, math.ceil(ctx.seconds / PASS_S))
    while len(passes) < n_passes:
        # traced runs trace passes in an untraced-traced-traced-untraced
        # pattern, so the tracing overhead is measured on the same
        # process and data and the JIT's drift cancels out
        traced_pass = ctx.traced and len(passes) % 4 in (1, 2)
        ctx.tracer.enabled = traced_pass
        fam_pass = dict.fromkeys(MIX, 0.0)
        t0 = time.perf_counter()
        for name in rng.permutation(names):
            ctx.attempted += 1
            try:
                wall, build = _execute(ctx, qs, name, sf_dir, f"{name}:{len(passes)}")
            except Exception as e:  # noqa: BLE001
                ctx.failed += 1
                ctx.checks.append(f"FAILED {name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            lat_ms.append(wall * 1e3)
            entry_ms.append((name, wall * 1e3))
            build_ms.append(build * 1e3)
            fam_pass[FAMILY[name]] += wall
        passes.append((traced_pass, time.perf_counter() - t0))
        for f, s in fam_pass.items():
            fam_s[f].append(s)
    t_end = time.time()
    ctx.tracer.enabled = False

    mix_s = statistics.median(s for _, s in passes)
    halves = [(sum(fam_s[f][i] for f in LOG_HALF), sum(fam_s[f][i] for f in MIX if f not in LOG_HALF))
              for i in range(len(passes))]
    log_s = statistics.median(h[0] for h in halves)
    llm_s = statistics.median(h[1] for h in halves)
    for i, (_, s) in enumerate(passes):
        ctx.report[f"pass_s.{i}"] = (s, "s")
    per_entry: dict[str, list[float]] = {}
    for name, ms in entry_ms:
        per_entry.setdefault(name, []).append(ms)
    for name, v in per_entry.items():
        ctx.report[f"entry_ms.{name}"] = (statistics.median(v), "ms")
    ctx.report.update({
        "query_ms_p50": (p50(lat_ms), "ms"),
        "query_ms_tail": (tail(lat_ms), "ms"),
        "mix_s": (mix_s, "s"),
        "log_s": (log_s, "s"),
        "llm_s": (llm_s, "s"),
        "passes": (len(passes), "count"),
        "executions": (len(lat_ms), "count"),
    })
    if ctx.traced:
        untraced = [s for t, s in passes if not t]
        traced = [s for t, s in passes if t]
        ctx.layers.update({
            "catalog.build_ms": p50(build_ms),
            **{f"{f}.ms": statistics.median(v) * 1e3 for f, v in fam_s.items()},
            **stage_window(spark, stage0, t_start, t_end, len(lat_ms)),
            "trace.overhead_ratio": statistics.median(traced) / statistics.median(untraced),
        })
    return {"log_s": log_s, "llm_s": llm_s, "latency_ms": typical(lat_ms), "latency_ms_tail": tail(lat_ms)}
