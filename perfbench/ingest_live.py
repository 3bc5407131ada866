"""``ingest_live``: order files arrive on a fixed schedule while the
streaming consumer and the incremental gold query run, and one dashboard
client refreshes against the growing silver table.

- Set-up (timed, repeated): the seed files are dropped at once and go
  through ``start_ingest`` and ``start_incremental_gold`` with
  ``availableNow``, so silver and gold hold data before the live phase.
  Each set-up is thus a catch-up: the time to drain a fixed backlog of
  files into gold.
- Static refreshes, with ingest idle: an untimed warm-up refresh before
  the live phase, and after it, with both queries stopped, FINAL_REFRESHES
  refreshes whose per-query median latencies give ``request_geomean_s``.
  Under the live phase a refresh shares the cores with the incremental
  query, and the few refreshes a short run holds spread too widely to
  bound.
- Live phase (``--seconds`` long): both queries restart from their
  checkpoints with a short processing-time trigger. A generator thread
  drops one file every ``1 / FILE_RATE`` seconds (open loop: written
  aside, renamed into place, stamped). A poller reads
  ``gold/v_age_gender_category`` with pyarrow and records when its
  ``sum(orders)`` first covers each file; freshness is that moment minus
  the time the file was due. The dashboard client refreshes in a closed
  loop from the start of the live phase until gold covers the live files
  (its latencies are reported, not bounded). Live refreshes read the
  silver charts only: ``start_incremental_gold`` rewrites each gold view
  with a plain overwrite, so a gold read during the live phase can find
  the view missing or half written. The static refreshes, with both
  queries stopped, read gold as well; a gold view read that fails there
  (``load_gold_snapshot`` gives None, or ``toPandas`` raises) fails the
  refresh; it is not retried.

Checks: every refresh sees at least as many orders as gold had committed
when it began, and never fewer than the refresh before; every static
refresh reads all four gold views, and they hold at least the committed
orders; at the end silver and gold each hold exactly the rows generated,
the gold views equal the batch views over silver, and batch enrichment of
the input files equals silver.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from datetime import datetime
from statistics import geometric_mean, median

import pyarrow.parquet as pq
from harness import tail

SEED_FILES, SEED_ROWS_PER_FILE = 4, 2500
FILE_ROWS = 200
FILE_RATE = 4.0  # files per second offered during the live phase
TRIGGER = "2 seconds"
SETUP_REPEATS = 3
FINAL_REFRESHES = 3
POLL_S = 0.05
LATE_LIMIT_S = 1.0  # a file dropped later than this after it was due fails
WAIT_LIMIT_S = 30.0
GOLD_VIEWS = (
    "v_age_preferences",
    "v_gender_preferences",
    "v_location_preferences",
    "v_age_gender_category",
)


def _json_lines(rows: list[dict]) -> bytes:
    out = []
    for r in rows:
        rec = dict(r)
        rec["processed_time"] = r["processed_time"].strftime("%Y-%m-%dT%H:%M:%S.%f")
        out.append(json.dumps(rec))
    return ("\n".join(out) + "\n").encode()


class GoldPoller(threading.Thread):
    """Reads gold's ``sum(orders)`` every POLL_S seconds and records when
    each target row count is first reached. A read that races the
    query's overwrite fails or sees part of the table, which only delays
    a cover; it never shows more rows than gold committed."""

    def __init__(self, gold_dir: str):
        super().__init__(name="gold-poller", daemon=True)
        self.path = os.path.join(gold_dir, "v_age_gender_category")
        self.latest = 0
        self.changes: list[tuple[float, int]] = []
        self.stop_event = threading.Event()
        self.reads = self.failed_reads = 0

    def read(self) -> int | None:
        self.reads += 1
        try:
            return int(pq.read_table(self.path, columns=["orders"]).column(0).to_numpy().sum())
        except (OSError, ValueError):
            self.failed_reads += 1
            return None

    def run(self) -> None:
        while not self.stop_event.is_set():
            total = self.read()
            if total is not None and total > self.latest:
                self.latest = total
                self.changes.append((time.perf_counter(), total))
            self.stop_event.wait(POLL_S)

    def covered_at(self, rows: int) -> float | None:
        for t, total in self.changes:
            if total >= rows:
                return t
        return None

    def wait_for(self, rows: int, limit: float) -> float | None:
        end = time.perf_counter() + limit
        while time.perf_counter() < end:
            t = self.covered_at(rows)
            if t is not None:
                return t
            time.sleep(POLL_S)
        return None


def run(ctx) -> None:
    from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
    from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV
    from streamlit_projet_spark_streaming_spark.serving import dashboard as D
    from streamlit_projet_spark_streaming_spark.sources.shopping import (
        CATEGORIES, LOCATIONS, RAW_ORDER_SCHEMA, generate_raw_orders)
    from streamlit_projet_spark_streaming_spark.streaming.consumer import (
        enrich_schema, start_ingest)
    from streamlit_projet_spark_streaming_spark.streaming.incremental import (
        start_incremental_gold)
    from tests.oracle_harness import canonical_rows

    spark, tr, seed = ctx.spark, ctx.tracer, ctx.seed
    rng = random.Random(seed)
    wall_offset = time.time() - time.perf_counter()

    def dirs_for(rep: int) -> dict[str, str]:
        base = os.path.join(ctx.work, f"ingest-{rep}")
        d = {k: os.path.join(base, k)
             for k in ("input", "staging", "silver", "gold", "ckpt_ingest", "ckpt_gold")}
        for p in d.values():
            os.makedirs(p, exist_ok=True)
        return d

    def generate(n: int, k: int) -> bytes:
        """Rows of file ``k``; every set-up repeat regenerates the same seed files."""
        with tr.span("sources.shopping", "generate_raw_orders"):
            rows = generate_raw_orders(n, seed=seed * 100_000 + k)
        with tr.span("benchmark", "encode_json"):
            return _json_lines(rows)

    def drop(d, name: str, payload: bytes) -> None:
        staged = os.path.join(d["staging"], name)
        with open(staged, "wb") as fh:
            fh.write(payload)
        os.rename(staged, os.path.join(d["input"], name))

    # ---- set-up, repeated: seed silver and gold through availableNow ----
    setup_times = []
    for rep in range(SETUP_REPEATS):
        d = dirs_for(rep)
        t0 = time.perf_counter()
        with tr.span("benchmark", "setup", op=f"setup{rep}"):
            for i in range(SEED_FILES):
                drop(d, f"seed-{i:04d}.json", generate(SEED_ROWS_PER_FILE, i))
            with tr.span("streaming.consumer", "available_now"):
                start_ingest(spark, d["input"], d["silver"], d["ckpt_ingest"],
                             available_now=True).awaitTermination()
            with tr.span("streaming.incremental", "available_now"):
                start_incremental_gold(spark, d["silver"], d["gold"], d["ckpt_gold"],
                                       available_now=True).awaitTermination()
        setup_times.append(time.perf_counter() - t0)
    ctx.report["setup_s_each"] = setup_times
    seed_rows = SEED_FILES * SEED_ROWS_PER_FILE

    n_live = int(ctx.seconds * FILE_RATE)
    live = [generate(FILE_ROWS, 1_000 + i) for i in range(n_live)]
    categories = rng.sample(CATEGORIES, 2)
    locations = rng.sample(LOCATIONS, 5)

    poller = GoldPoller(d["gold"])
    poller.start()
    schema = enrich_schema(spark)
    stop_clients = threading.Event()
    refreshes: list[dict] = []

    def read_gold_view(name: str):
        """One gold view as pandas, or None where ``load_gold_snapshot``
        could not read it."""
        df = D.load_gold_snapshot(spark, d["gold"], (name,))[name]
        return None if df is None else df.toPandas()

    def timed(samples: dict[str, float], key: str, fn):
        if stop_clients.is_set():
            raise _Stopped
        t = time.perf_counter()
        out = fn()
        samples[key] = time.perf_counter() - t
        return out

    def refresh(op: str, prev_total: int, with_gold: bool = True) -> dict | None:
        """One dashboard refresh, with the gold views unless ``with_gold``
        is false; ``problem`` says why it failed, if it did. A refresh still
        running when the clients stop is dropped."""
        committed = poller.latest
        t_r = time.perf_counter()
        problem, counts, queries, total = None, None, {}, prev_total
        try:
            with tr.span("serving.dashboard", "refresh", op=op):
                # job counts cover the silver charts, whose plans are fixed;
                # the gold reads follow outside the group
                with ctx.jobs.group("refresh") as counts:
                    silver = spark.read.schema(schema).parquet(d["silver"])
                    with tr.span("serving.dashboard", "dashboard_snapshot"):
                        snap = D.dashboard_snapshot(silver)
                    charts = {}
                    for name, df in snap.items():
                        with tr.span("serving.dashboard", f"chart.{name}"):
                            charts[name] = timed(queries, name, df.toPandas)
                    with tr.span("serving.dashboard", "latest_orders"):
                        latest = D.latest_orders(silver, categories=categories,
                                                 locations=locations)
                        timed(queries, "latest_orders_filtered", latest.toPandas)
                gold = {}
                for name in GOLD_VIEWS if with_gold else ():
                    with tr.span("serving.dashboard", f"gold.{name}"):
                        gold[name] = timed(queries, f"gold.{name}", lambda: read_gold_view(name))
        except _Stopped:
            return None
        except Exception as exc:  # noqa: BLE001 - a failed refresh is counted, the loop goes on
            problem = f"refresh {op}: {_describe(exc)}"
        dt = time.perf_counter() - t_r
        if problem is None:
            total = int(charts["overview_metrics"]["total_orders"].iloc[0])
            missing = [n for n, v in gold.items() if v is None]
            if missing:
                problem = f"refresh {op}: gold views unreadable: {missing}"
            elif total < committed or total < prev_total:
                problem = (f"refresh {op}: stale total_orders {total} "
                           f"(gold committed {committed}, previous {prev_total})")
            elif with_gold and int(gold["v_age_gender_category"]["orders"].sum()) < committed:
                problem = f"refresh {op}: gold read shows fewer orders than committed {committed}"
        return {"s": dt, "problem": problem, "counts": counts,
                "queries": queries, "total": max(total, prev_total)}

    def refresh_loop() -> None:
        prev_total, k = warm["total"], 0
        while not stop_clients.is_set():
            r = refresh(f"r{k}", prev_total, with_gold=False)
            if r is not None:
                refreshes.append(r)
                prev_total = r["total"]
            k += 1

    # Over the seeded tables, with ingest idle, one untimed refresh warms the
    # dashboard's code paths. The live queries then start from the set-up
    # checkpoints.
    warm = refresh("warmup", 0)
    ctx.report["warmup_refresh_s"] = warm["s"]
    t0 = time.perf_counter()
    with tr.span("streaming.consumer", "start"):
        q_ingest = start_ingest(spark, d["input"], d["silver"], d["ckpt_ingest"],
                                processing_time=TRIGGER)
    with tr.span("streaming.incremental", "start"):
        q_gold = start_incremental_gold(spark, d["silver"], d["gold"], d["ckpt_gold"],
                                        processing_time=TRIGGER)
    ctx.report["live_start_s"] = time.perf_counter() - t0

    dash = threading.Thread(target=refresh_loop, name="dashboard-client", daemon=True)
    drops: list[dict] = []

    def generator(t_start: float) -> None:
        for i, payload in enumerate(live):
            due = t_start + i / FILE_RATE
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            drop(d, f"live-{i:04d}.json", payload)
            created = time.perf_counter()
            drops.append({"due": due, "created": created, "late": created - due})

    # ---- live phase ----
    ctx.start_window()
    t_live = time.perf_counter()
    gen = threading.Thread(target=generator, args=(t_live,), name="generator", daemon=True)
    dash.start()
    gen.start()
    gen.join()
    while time.perf_counter() - t_live < ctx.seconds:
        time.sleep(0.05)
    t_live_end = time.perf_counter()
    rows_total = seed_rows + n_live * FILE_ROWS
    poller.wait_for(rows_total, WAIT_LIMIT_S)
    stop_clients.set()
    dash.join(timeout=120)
    ctx.end_window()
    poller.stop_event.set()
    poller.join(timeout=10)

    progress_ingest = [_progress_dict(p) for p in q_ingest.recentProgress]
    progress_gold = [_progress_dict(p) for p in q_gold.recentProgress]
    for q in (q_ingest, q_gold):
        q.stop()
    stop_clients.clear()
    prev_total = max([warm["total"]] + [r["total"] for r in refreshes])
    finals = []
    for j in range(FINAL_REFRESHES):
        finals.append(refresh(f"final{j}", prev_total))
        prev_total = finals[-1]["total"]

    # ---- per-file freshness and generator health ----
    freshness = []
    for i, rec in enumerate(drops):
        ctx.attempted += 1
        t_cov = poller.covered_at(seed_rows + (i + 1) * FILE_ROWS)
        if t_cov is None:
            ctx.fail(f"live file {i}: never covered by gold")
        elif rec["late"] > LATE_LIMIT_S:
            ctx.fail(f"live file {i}: dropped {rec['late']:.3f} s late")
        else:
            freshness.append(t_cov - rec["due"])
    for r in [warm] + finals + refreshes:
        ctx.attempted += 1
        if r["problem"]:
            ctx.fail(r["problem"])

    # ---- end-state checks: exactly-once, view parity, enrichment parity ----
    with tr.span("benchmark", "final_checks", op="final"):
        ctx.attempted += 1
        silver = spark.read.schema(schema).parquet(d["silver"])
        silver_rows = silver.count()
        gold_rows = poller.read()
        if silver_rows != rows_total or gold_rows != rows_total:
            ctx.fail(f"exactly-once: generated {rows_total}, silver {silver_rows}, gold {gold_rows}")
        for name in GOLD_VIEWS:
            ctx.attempted += 1
            with tr.span("plans.shopping_views", name):
                want = canonical_rows(getattr(SV, name)(silver).toPandas())
            got = canonical_rows(spark.read.parquet(os.path.join(d["gold"], name)).toPandas())
            if got != want:
                ctx.fail(f"gold {name} differs from the batch view over silver")
        ctx.attempted += 1
        raw = spark.read.schema(RAW_ORDER_SCHEMA).option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").json(d["input"])
        with tr.span("functions.enrichment", "enrich"):
            want = canonical_rows(_enrich_digest(enrich(raw)).toPandas())
        if canonical_rows(_enrich_digest(silver).toPandas()) != want:
            ctx.fail("silver differs from batch enrichment of the input files")

    ingest_stats = _record_progress(tr, progress_ingest, "streaming.consumer", wall_offset)
    gold_stats = _record_progress(tr, progress_gold, "streaming.incremental", wall_offset)

    ok_refreshes = [r for r in refreshes if not r["problem"]]
    refresh_s = [r["s"] for r in ok_refreshes]
    query_s = [q for r in ok_refreshes for q in r["queries"].values()]
    # per query, the median over the final refreshes, so that one refresh
    # slowed by the host does not set the figure
    final_s = {k: median(f["queries"][k] for f in finals if k in f["queries"])
               for k in finals[0]["queries"]}
    live_rows_in = sum(p["numInputRows"] for p in progress_ingest
                       if _end_of(p, wall_offset) <= t_live_end)
    ctx.e2e.update({
        "result_p50_s": median(freshness),
        # the queries differ from each other; a geometric mean weighs each the
        # same and moves smoothly, where a median jumps between queries
        "request_geomean_s": geometric_mean(final_s.values()),
    })
    counts = finals[-1]["counts"]
    ctx.layer_counts.update({
        "serving.dashboard.jobs_per_refresh": counts["jobs"],
        "serving.dashboard.stages_per_refresh": counts["stages"],
        "serving.dashboard.tasks_per_refresh": counts["tasks"],
        "serving.dashboard.failed_tasks": counts["failed_tasks"],
        "serving.dashboard.failed_refreshes": sum(
            1 for r in [warm] + finals + refreshes if r["problem"]),
        "serving.dashboard.gold_load_s": sum(
            s for k, s in final_s.items() if k.startswith("gold.")),
        **{f"serving.dashboard.chart_s.{k}": s for k, s in final_s.items()
           if k != "latest_orders_filtered" and not k.startswith("gold.")},
        **{f"streaming.consumer.{k}": ingest_stats[k] for k in STREAM_STATS if k in ingest_stats},
        **{f"streaming.incremental.{k}": gold_stats[k] for k in STREAM_STATS if k in gold_stats},
        "streaming.consumer.backlog_files_end": n_live - live_rows_in // FILE_ROWS,
    })
    ctx.report.update({
        "offered_files_per_s": FILE_RATE,
        "offered_rows_per_s": FILE_RATE * FILE_ROWS,
        "sizes": {"seed_rows": seed_rows, "live_files": n_live, "rows_per_live_file": FILE_ROWS,
                  "rows_total": rows_total, "trigger": TRIGGER},
        "freshness_p50_s": median(freshness),
        "freshness_tail": tail(freshness),
        "final_refresh_s_each": [f["s"] for f in finals],
        "final_query_s": final_s,
        "final_refresh_counts": counts,
        "live_refresh_p50_s": median(refresh_s) if refresh_s else None,
        "live_refresh_tail": tail(refresh_s),
        "live_refreshes": len(refreshes),
        "live_refresh_s_each": refresh_s,
        "live_query_p50_s": median(query_s) if query_s else None,
        "live_query_tail": tail(query_s),
        "catchup_rows_per_s": seed_rows / median(setup_times),
        "generator_late_tail": tail([r["late"] for r in drops]),
        "generator_late_max_s": max(r["late"] for r in drops),
        "gold_poll_reads": poller.reads,
        "gold_poll_failed_reads": poller.failed_reads,
        "dashboard_filter": {"categories": categories, "locations": locations},
        "streaming.consumer": ingest_stats,
        "streaming.incremental": gold_stats,
    })


def _describe(exc: Exception) -> str:
    """Type and message of an exception; for a JVM error, its innermost cause."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    causes = [ln for ln in lines if ln.startswith("Caused by:")]
    return f"{type(exc).__name__}: {(causes[-1] if causes else lines[0] if lines else '')[:300]}"


class _Stopped(Exception):
    """The clients were stopped while a refresh was in flight."""


def _progress_dict(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def _start_of(p: dict, wall_offset: float) -> float:
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return ts - wall_offset


def _end_of(p: dict, wall_offset: float) -> float:
    return _start_of(p, wall_offset) + p["durationMs"].get("triggerExecution", 0) / 1000.0


#: Per-batch figures of both streaming queries that are per-layer metrics.
STREAM_STATS = ("trigger_s", "add_batch_s", "rows_per_batch", "state_rows", "state_commit_s")

#: Phases of one micro-batch in the order MicroBatchExecution runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _record_progress(tr, progress: list[dict], layer: str, wall_offset: float) -> dict:
    """Turn a query's progress reports into spans; return per-batch medians."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    for p in progress:
        dur = p["durationMs"]
        start = _start_of(p, wall_offset)
        op = f"{layer}-b{p['batchId']}"
        parent = tr.add(layer, "trigger", start, start + dur.get("triggerExecution", 0) / 1000.0, op=op)
        t = start
        for phase in PHASES:
            if phase in dur:
                tr.add(layer, phase, t, t + dur[phase] / 1000.0, parent=parent, op=op)
                t += dur[phase] / 1000.0

    def med(key):
        vals = [p["durationMs"].get(key, 0) / 1000.0 for p in batches]
        return median(vals) if vals else 0.0

    stats = {
        "batches": len(batches),
        "trigger_s": med("triggerExecution"),
        "add_batch_s": med("addBatch"),
        "wal_commit_s": med("walCommit"),
        "query_planning_s": med("queryPlanning"),
        "rows_per_batch": median([p["numInputRows"] for p in batches]) if batches else 0,
    }
    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    if state:
        stats.update({
            "state_rows": state[-1].get("numRowsTotal", 0),
            "state_mb": state[-1].get("memoryUsedBytes", 0) / 2**20,
            "state_commit_s": median(s.get("commitTimeMs", 0) for s in state) / 1000.0,
        })
    return stats


def _enrich_digest(df):
    """Per-derived-column aggregates that any enrichment difference moves."""
    from pyspark.sql import functions as F

    return df.groupBy("customer_segment", "amount_category", "satisfaction_level",
                      "is_anomaly", "frequency_category", "season_type", "loyalty_score").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("final_amount_usd"), 2).alias("final"),
        F.round(F.sum("estimated_clv"), 2).alias("clv"),
        F.round(F.sum("estimated_profit_usd"), 2).alias("profit"),
    )
