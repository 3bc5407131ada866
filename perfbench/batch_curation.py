"""``batch_curation``: closed loop, one client, registry queries over fixed
seeded fixtures.

Set-up reads every table once through the catalog; only that is timed,
each repeat over a freshly written copy of the fixtures.
One untimed pass warms the JVM; then whole passes run back to back while
the next is expected to end inside the measuring time (at least one),
each in a seed-permuted query order. Every collected result is compared
with the query's DuckDB oracle, outside the timed window. The queries
span the operator modules, and nothing here touches serving or
streaming, so this workload is the control for ``ingest_live``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from statistics import geometric_mean, median

import fixtures
import pandas as pd
from harness import tail

#: Each query, the operator module whose code it mostly runs, and the
#: fixture tables it reads.
QUERIES = {
    "v_price_bucket_preferences": ("operators.relational", ("orders",)),
    "v_segment_preferences": ("operators.relational", ("orders", "customer")),
    "dedup_minhash_lsh": ("operators.dedup", ("documents",)),
    "similarity_topk_ivf": ("operators.similarity", ("embeddings",)),
    "similarity_topk_ivfpq": ("operators.quantize", ("embeddings",)),
    "text_quality_scores": ("operators.text", ("documents",)),
    "text_bm25_topk": ("operators.text", ("documents",)),
    "graph_triangle_census": ("operators.graph", ("lineitem",)),
}

TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")
SETUP_REPEATS = 3


def run(ctx) -> None:
    from streamlit_projet_spark_streaming_spark import registry
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table
    from tests.oracle_harness import canonical_rows, duckdb_conn

    spark, tr = ctx.spark, ctx.tracer
    specs = registry.REGISTRY

    setup_times, fixture_dir, manifest = [], None, None
    for rep in range(SETUP_REPEATS):
        if fixture_dir:
            shutil.rmtree(fixture_dir)
        fixture_dir = os.path.join(ctx.work, f"fixtures-{rep}")
        with tr.span("benchmark", "write_fixtures", op=f"setup{rep}"):
            manifest = fixtures.write_fixtures(fixture_dir, ctx.seed)
        t0 = time.perf_counter()
        with tr.span("benchmark", "setup", op=f"setup{rep}"):
            for t in TABLES:
                with tr.span("sources.catalog", f"load_table.{t}"):
                    load_table(spark, t, fixture_dir).count()
        setup_times.append(time.perf_counter() - t0)
    ctx.report["setup_s_each"] = setup_times
    ctx.report["fixtures"] = manifest

    con = duckdb_conn(fixture_dir)
    expected = {}
    with tr.span("benchmark", "oracles"):
        for q in QUERIES:
            expected[q] = canonical_rows(con.execute(specs[q].oracle).fetchdf(), strict=True)
    con.close()

    def check(q, df, rows) -> bool:
        # pandas infers the dtypes toPandas() would give (ints with nulls
        # become floats), so the canonical form matches the harness's
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
        return canonical_rows(got, strict=True) == expected[q]

    rng = random.Random(ctx.seed)
    order = list(QUERIES)
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    query_jobs: dict[str, int] = {}

    def one_pass(pass_id: str) -> tuple[float, dict]:
        """Collect every query once in a seed-permuted order, then check the
        results; returns the pass time and its Spark job counts."""
        rng.shuffle(order)
        totals = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        results = []
        t_pass = time.perf_counter()
        with tr.span("registry", "pass", op=pass_id):
            for q in order:
                t0 = time.perf_counter()
                try:
                    with ctx.jobs.group(q) as counts:
                        with tr.span("registry", f"build.{q}"):
                            df = specs[q].builder(spark, fixture_dir)
                        with tr.span(QUERIES[q][0], f"collect.{q}"):
                            rows = df.collect()
                except Exception as exc:  # noqa: BLE001 - a failed query is counted, the loop goes on
                    ctx.attempted += 1
                    ctx.fail(f"{q}: {type(exc).__name__}: {exc}")
                    continue
                per_query[q].append(time.perf_counter() - t0)
                query_jobs[q] = counts["jobs"]
                for k in totals:
                    totals[k] += counts[k]
                results.append((q, df, rows))
        dt_pass = time.perf_counter() - t_pass
        with tr.span("benchmark", "check", op=pass_id):
            for q, df, rows in results:
                ctx.attempted += 1
                if not check(q, df, rows):
                    ctx.fail(f"{q}: result differs from its oracle")
        return dt_pass, totals

    ctx.report["warmup_pass_s"], _ = one_pass("warmup")
    for times in per_query.values():
        times.clear()
    pass_times, pass_counts = [], []
    ctx.start_window()
    # whole passes while the next is expected to end inside the window, so
    # the pass count only changes when the pass time crosses seconds / k
    while not pass_times or ctx.window_elapsed() + pass_times[-1] <= ctx.seconds:
        dt_pass, totals = one_pass(f"p{len(pass_times)}")
        pass_times.append(dt_pass)
        pass_counts.append(totals)
    ctx.end_window()

    rows_per_pass = sum(manifest[t]["rows"] for q in QUERIES for t in QUERIES[q][1])
    pass_s = median(pass_times)
    request_s = [t for ts in per_query.values() for t in ts]
    ctx.e2e.update({
        "result_p50_s": pass_s,
        # see ingest_live: a geometric mean over the unlike queries
        "request_geomean_s": geometric_mean(request_s),
    })
    ctx.report.update({
        "batch_pass_s": pass_s,
        "passes": len(pass_times),
        "pass_s_each": pass_times,
        "query_s_p50": {q: median(ts) for q, ts in per_query.items() if ts},
        "query_modules": {q: module for q, (module, _) in QUERIES.items()},
        "query_order_last_pass": order,
        "input_rows_per_pass": rows_per_pass,
        "input_rows_per_s": rows_per_pass / pass_s,
        "query_p50_s": median(request_s),
        "query_tail": tail(request_s),
        "pass_counts": pass_counts,
        "query_jobs_last_pass": query_jobs,
    })
    ctx.layer_counts.update({
        "registry.jobs_per_pass": pass_counts[0]["jobs"],
        "registry.stages_per_pass": pass_counts[0]["stages"],
        "registry.tasks_per_pass": pass_counts[0]["tasks"],
        "registry.failed_tasks": sum(c["failed_tasks"] for c in pass_counts),
        **{f"registry.query_s.{q}": median(ts) for q, ts in per_query.items() if ts},
    })
