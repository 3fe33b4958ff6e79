"""Declared-query panel: one or two registered queries from each operator
and function module, over tables generated from the seed.

Set-up runs the panel untimed until every plan shape is warm and the
JVM has compiled its hot paths; the timed phase runs whole passes over
the panel, each query to a ``noop`` sink, until the run's seconds are up.
Afterwards every query is collected once and compared with its DuckDB
oracle twin from the registry.
"""

from __future__ import annotations

import time

from perfbench import checks, datagen
from perfbench.spans import Tracer, median

#: (query name, module it is declared in). An odd number of queries, so
#: that the median query time is the median of one query's times rather
#: than a mean of two queries'.
PANEL = (
    ("q01_pricing_summary", "relational"),
    ("q03_regional_revenue", "relational"),
    ("q40_priority_line_counts", "sql_api"),
    ("q49_customer_distribution", "sql_api"),
    ("grid_global_aggs", "grid_ops"),
    ("dense_matmul_tn", "linalg"),
    ("dedup_exact", "dedup"),
    ("sim_bruteforce_topk", "similarity"),
    ("txt_token_stats", "text"),
    ("samp_hash_bernoulli", "sampling"),
    ("mm_resize_mean", "multimodal"),
)
MODULES = tuple(dict.fromkeys(m for _, m in PANEL))
#: Query times still fall by about a quarter over the first four passes
#: of a fresh JVM and level off after that.
WARMUP_PASSES = 4


def _run_query(spec, spark, sf_dir: str) -> None:
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def oracle_errors(spark, specs, sf_dir: str, paths: dict[str, str]) -> list[str]:
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        errs = []
        for name, _ in PANEL:
            got = specs[name].fn(spark, sf_dir).toPandas()
            want = con.execute(specs[name].oracle).fetchdf()
            errs += checks.check_query(name, got, want)
        return errs
    finally:
        con.close()


def run(run_ctx, seed: int, seconds: float, tracer: Tracer, t_proc0: float):
    """Returns (setup_s, ops, failed, latencies_s, ops_per_s, errors, layers);
    the throughput is the panel size over the sum of the per-query median
    times, so a stall of the shared machine that slows one query in one
    pass does not move it."""
    from deisa_ray_spark.registry import load_all

    sf_dir = run_ctx.path("tables")
    paths = datagen.write(seed, sf_dir)
    with tracer.span("session.start"):
        spark = run_ctx.start_session()
    specs = load_all()
    with tracer.span("session.warmup"):
        for _ in range(WARMUP_PASSES):
            for name, _ in PANEL:
                _run_query(specs[name], spark, sf_dir)
    setup_s = time.perf_counter() - t_proc0

    times: dict[str, list[float]] = {name: [] for name, _ in PANEL}
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for name, module in PANEL:
            with tracer.span(f"query.{module}", name):
                q0 = time.perf_counter()
                _run_query(specs[name], spark, sf_dir)
                times[name].append(time.perf_counter() - q0)
    latencies = [x for v in times.values() for x in v]

    with tracer.span("oracle.check"):
        errors = oracle_errors(spark, specs, sf_dir, paths)
    medians = {name: median(t) for name, t in times.items()}
    layers = {}
    if tracer.enabled:
        for module in MODULES:
            layers[f"query.{module}_s"] = sum(
                medians[name] for name, m in PANEL if m == module
            )
        layers["oracle.check_s"] = tracer.named("oracle.check")[0].duration
    return setup_s, len(latencies), 0, latencies, len(PANEL) / sum(medians.values()), errors, layers
