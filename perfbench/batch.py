"""``batch``: registered queries over the generated sf0.01 tables, then the
cached trends API.

Set-up ends with the catalog warm-up and ``prepare_indexes``.  Then one
client runs ``query_set`` once, in registry order, each query built and
run to completion with its rows delivered to the client as Arrow
(``wall_s``).  Then the same client sends
``API_REQUESTS`` requests of the seed's trends sequence to
``PulseEngine.trends`` over ``events_as_trades``; every third repeats a
recent key inside the cache TTL (per-layer ``api.*``).  Query rows are
checked against the DuckDB oracle, and sampled API responses against an
uncached query, outside the timed sections.
"""

from __future__ import annotations

import time

from perfbench import datagen
from perfbench.trace import catalyst_s, jobs_in_group, pct

API_REQUESTS = 6
#: responses re-checked against an uncached ``trends(...).collect()``
API_CHECKED = 2


def query_set(queries: dict) -> list[str]:
    """The first query of each query module, in registry order: 13 of
    the 50, all 13 modules.  A pass over all 50 does not fit the
    benchmark's time budget next to ``prepare_indexes``."""
    by_module: dict[str, list[str]] = {}
    for name, fn in queries.items():
        by_module.setdefault(fn.__module__, []).append(name)
    keep = {names[0] for names in by_module.values()}
    return [n for n in queries if n in keep]


def generate(ctx, out: str) -> dict:
    return {"sf_dir": datagen.fixtures(ctx.root, out)}


def _oracle_tables(sf: str, oracles: dict) -> dict:
    """The DuckDB oracle's result for every query over ``sf``."""
    from currency_market_pulse_spark.oracle import duck_con

    con = duck_con(sf)
    try:
        return {name: con.execute(sql).fetch_arrow_table()
                for name, sql in oracles.items()}
    finally:
        con.close()


def _serve_trends(ctx, tr) -> dict:
    """The trends API phase: per-layer metrics, errors."""
    from currency_market_pulse_spark.api import PulseEngine
    from currency_market_pulse_spark.operators.trends import trends
    from currency_market_pulse_spark.sources.catalog import events_as_trades

    spark = ctx.spark
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    trades = events_as_trades(spark, ctx.sf_dir)
    engine = PulseEngine(spark, trades)
    seq = datagen.trends_sequence(ctx.seed, API_REQUESTS)
    seen: set = set()
    hit_ms, miss_ms, jobs = [], [], []
    answers, failed = {}, 0
    t_start = time.perf_counter()
    for i, req in enumerate(seq):
        hit = req in seen
        seen.add(req)
        n0 = len(tracker.getJobIdsForGroup("api"))
        sc.setJobGroup("api", "trends api")
        t0 = time.perf_counter()
        try:
            with tr.span("api.trends", i):
                answers[req] = engine.trends(*req)
        except Exception as e:  # a failing request is a counted error
            ctx.log(f"trends request {i} failed: {e!r}")
            failed += 1
            continue
        finally:
            sc.setJobGroup("bench", "bench")
        ms = (time.perf_counter() - t0) * 1e3
        (hit_ms if hit else miss_ms).append(ms)
        if not hit:
            jobs.append(len(tracker.getJobIdsForGroup("api")) - n0)
    wall = time.perf_counter() - t_start
    wrong = []
    designed_hits = len(seq) - len(seen)
    if engine.cache.hits != designed_hits:
        wrong.append(f"cache hits {engine.cache.hits} != {designed_hits}")
    for req in list(answers)[:API_CHECKED]:
        if answers[req] != trends(trades, *req).collect():
            wrong.append(f"trends {req}")
    return {"failed": failed, "wrong": wrong,
            "layer": {"api.trends_miss_p50_ms": pct(miss_ms, 50),
                      "api.trends_hit_p50_ms": pct(hit_ms, 50),
                      "api.trends_rps": len(seq) / wall,
                      "api.jobs_per_miss": pct(jobs, 50),
                      "plans.cache.hit_share": engine.cache.hits
                      / len(seq)}}


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from currency_market_pulse_spark.oracle import compare, dtype_traps
    from currency_market_pulse_spark.plans.prepare import prepare_indexes
    from currency_market_pulse_spark.sources.catalog import (
        TABLES, load_table,
    )

    spark, sf, tr = ctx.spark, ctx.sf_dir, ctx.tracer
    sc = spark.sparkContext
    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = query_set(queries)

    # engine set-up: catalog warm-up and the index build
    t0 = time.perf_counter()
    with tr.span("sources.catalog_warm"):
        for t in TABLES:
            load_table(spark, sf, t)
    layer = {"sources.catalog_warm_s": time.perf_counter() - t0}
    with tr.span("plans.prepare"):
        built = prepare_indexes(spark, sf)
    warmup_s = time.perf_counter() - t0
    ctx.log(f"indexes built in {built['total']:.2f}s")
    for k, v in built.items():
        layer[f"plans.prepare.{k}_s"] = v

    # ---- one pass over the query set
    lat: list[float] = []
    results: dict[str, object] = {}
    failed = 0
    construct, plan, run_s, mod_of = {}, {}, {}, {}
    eager = 0
    e0 = time.time()
    p0 = time.perf_counter()
    for name in names:
        fn = queries[name]
        mod_of[name] = fn.__module__.rsplit(".", 1)[-1]
        q0 = time.perf_counter()
        try:
            with tr.span("queries.run", name):
                if tr.enabled:
                    sc.setJobGroup(f"construct:{name}", name)
                with tr.span(f"queries.{mod_of[name]}.construct", name):
                    df = fn(spark, sf)
                q1 = time.perf_counter()
                if tr.enabled:
                    sc.setJobGroup(f"run:{name}", name)
                    with tr.span("catalyst.plan", name):
                        plan[name] = catalyst_s(df)
                x0 = time.perf_counter()
                with tr.span("exec.run", name):
                    results[name] = df.toArrow()
                q2 = time.perf_counter()
        except Exception as e:  # a failing query is a counted error
            ctx.log(f"query {name} failed: {e!r}")
            failed += 1
            continue
        finally:
            if tr.enabled:
                sc.setJobGroup("bench", "bench")
        lat.append(q2 - q0)
        if tr.enabled:
            construct[name] = q1 - q0
            # planning was forced above, so the collect only executes
            run_s[name] = q2 - x0
            eager += jobs_in_group(spark, f"construct:{name}")
    wall_s = time.perf_counter() - p0
    window = (e0, time.time())
    ctx.log(f"{len(names)}-query pass {wall_s:.2f}s")

    api = _serve_trends(ctx, tr)
    layer.update(api["layer"])

    # ---- output check (untimed): query rows vs the DuckDB oracle
    c0 = time.perf_counter()
    expected = _oracle_tables(sf, {n: oracles[n] for n in names})
    wrong = list(api["wrong"])
    for name, table in results.items():
        otbl = expected[name]
        if dtype_traps(otbl.schema):
            wrong.append(f"{name}: DTYPE-TRAP")
            continue
        a = table.to_pandas()
        b = otbl.to_pandas(date_as_object=False)
        verdict = compare(a, b)
        if verdict != "EXACT":
            wrong.append(f"{name}: {verdict}")
    ctx.log(f"oracle check {time.perf_counter() - c0:.2f}s")
    for w in wrong:
        ctx.log(f"check failed: {w}")

    if tr.enabled:
        for m in set(mod_of.values()):
            layer[f"queries.{m}.construct_s"] = sum(
                v for q, v in construct.items() if mod_of[q] == m)
            layer[f"queries.{m}.exec_s"] = sum(
                v for q, v in run_s.items() if mod_of[q] == m)
        layer["queries.construct_s"] = sum(construct.values())
        layer["queries.eager_jobs"] = eager
        layer["catalyst.plan_s"] = sum(plan.values())
        layer["exec.run_s"] = sum(run_s.values())
    layer["queries.latency_p50_ms"] = pct(lat, 50) * 1e3
    layer["queries.latency_p80_ms"] = pct(lat, 80) * 1e3
    return {"e2e": {"wall_s": wall_s}, "layer": layer, "warmup_s": warmup_s,
            "window": window,
            "attempted": len(names) + API_REQUESTS,
            "failed": failed + api["failed"],
            "correct": not wrong and not failed and not api["failed"],
            "detail": {"queries": len(names), "index_build": built,
                       "oracle_checked": len(results), "mismatches": wrong}}
