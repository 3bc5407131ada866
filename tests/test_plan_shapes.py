"""Executed-plan shape asserts for scale-critical operators.

These pin plan PROPERTIES, not plan text: a refactor that silently
reintroduces a skew-prone shape (hot-key count window, lost partial
aggregation) fails here long before it shows up at 100 TB.
"""

import pytest

from streamlit_projet_spark_streaming_spark.operators import dedup as _dedup
from streamlit_projet_spark_streaming_spark.operators import text as _text
from streamlit_projet_spark_streaming_spark.plans.preferences import GOLD_VIEWS
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "build",
    [
        lambda docs: _dedup.span_dup_profile(docs, 5),
        lambda docs: _text.remove_dup_spans(docs, 5),
    ],
    ids=["span_dup_profile", "remove_dup_spans"],
)
def test_span_docfreq_has_no_window(spark, build):
    """Span doc-frequency must be a map-side-combined groupBy + join-back.

    A COUNT window over partitionBy(span) does no partial aggregation:
    every row of a Zipf-hot boilerplate span funnels into ONE task at
    100 TB (VERDICT r5 'What's wrong #2'). The groupBy form collapses
    each span to one row per map task before its shuffle.
    """
    docs = load_table(spark, "documents", SF)
    plan = _executed_plan(build(docs))
    assert "Window" not in plan, "skew-prone count window reintroduced"
    # partial (map-side) aggregation present somewhere on the span hash
    assert "partial_count" in plan, "lost map-side combine for span docfreq"


@pytest.mark.parametrize(
    "name",
    [
        "v_price_bucket_preferences",
        "v_status_preferences",
        "v_segment_preferences",
    ],
)
def test_preference_views_scan_orders_once(spark, name):
    """The window-rewritten preference views read the fact table ONCE
    (PLANS.md 'Preference views'): both the stats branch and the top-1
    branch derive from the same dimension-sized aggregate. The reference
    scans its fact table once per branch; a refactor reintroducing the
    double scan doubles the dominant cost at 100 TB."""
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF)
    plan = _executed_plan(df)
    assert plan.count("orders.parquet") == 1, (
        f"{name}: fact table scanned {plan.count('orders.parquet')}x"
    )


@pytest.fixture(scope="module")
def silver_dir(spark, tmp_path_factory):
    from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich

    from .shopping_fixture import raw_df

    path = str(tmp_path_factory.mktemp("silver") / "silver")
    enrich(raw_df(spark, 500)).write.parquet(path)
    return path


@pytest.mark.parametrize("name", GOLD_VIEWS)
def test_shopping_views_scan_silver_once(spark, silver_dir, name):
    """The shopping twins of the preference views are built by the same
    ``plans/preferences.py`` functions, so the same single-scan property
    must hold over a parquet silver table."""
    from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV

    plan = _executed_plan(getattr(SV, name)(spark.read.parquet(silver_dir)))
    assert plan.count("FileScan parquet") == 1, (
        f"{name}: silver scanned {plan.count('FileScan parquet')}x"
    )


def test_quantize_has_no_data_sized_shuffle(spark):
    """embedding_quantize_int8's only exchanges are the D-row stats
    aggregation pair, the single-row stats broadcast, and (at fixture
    scale) the conditional input spread — the corpus itself must reach
    the Arrow map stage without a groupBy/join re-assembly shuffle
    (PLANS.md 'Round-6 additions')."""
    from streamlit_projet_spark_streaming_spark.operators import quantize as Q

    emb = load_table(spark, "embeddings", SF)
    plan = _executed_plan(Q.quantize_embeddings(emb))
    assert "MapInPandas" in plan
    # The checkpointed stats row appears as a broadcast ExistingRDD scan —
    # its aggregation ran once at checkpoint time; assert the map-side
    # combine on the stats leg itself.
    stats_plan = _executed_plan(Q.dim_stats(emb))
    assert "partial_min" in stats_plan and "partial_max" in stats_plan
    # No data-sized aggregation in the main plan: the vec_id re-assembly
    # groupBy of the SQL-only alternative must not appear.
    assert "HashAggregate" not in plan, "re-assembly aggregate above map stage"


def test_event_transitions_partial_aggregates_pairs(spark):
    """The (type, next) pair counts must partially aggregate before their
    exchange — a window-only form would funnel hot event types into
    single tasks at scale."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel

    ev = load_table(spark, "events", SF)
    plan = _executed_plan(rel._transition_pairs(ev))
    assert "partial_count" in plan, "lost map-side combine for pair counts"


def test_basket_affinity_reuses_items_exchange(spark):
    """Both sides of the within-order self-join are the same items
    subplan; the executed plan must ship ONE shuffle for it
    (ReusedExchange), not two."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel

    li = load_table(spark, "lineitem", SF)
    part = load_table(spark, "part", SF)
    df = rel.basket_affinity(li, part, min_support=1)
    # AQE resolves exchange reuse during execution — read the FINAL plan.
    df.collect()
    plan = _executed_plan(df)
    assert "ReusedExchange" in plan, (
        "items self-join sides no longer share one exchange"
    )


def test_rfm_scans_orders_once(spark):
    """The corpus max date derives from the checkpointed customer-dim
    aggregate (max of per-group maxes) — a second scalar pass over the
    fact table must not reappear."""
    from streamlit_projet_spark_streaming_spark.operators import relational as rel

    orders = load_table(spark, "orders", SF)
    df = rel.rfm_segments(orders)
    df.collect()
    plan = _executed_plan(df)
    # The checkpointed customer-dim aggregate hides ITS orders scan
    # behind a LogicalRDD, so the correct plan shows ZERO visible
    # orders scans; a reintroduced second scalar pass (the regression
    # this guards) would surface as a visible FileScan — assert == 0,
    # not <= 1 (review caught the <= 1 form as vacuous).
    assert plan.count("orders.parquet") == 0, (
        f"visible orders scan reintroduced ({plan.count('orders.parquet')}x)"
    )


def test_ivf_assign_is_agg_only(spark):
    """The coarse quantizer must be an agg-only argmax (partial min_by,
    map-side |C|-to-1 combine) — not a ROW_NUMBER window that ships all
    |C| scored rows per vector through the shuffle."""
    from pyspark.sql import functions as F

    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    cent = emb.filter((F.col("vec_id") % 25) == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    plan = _executed_plan(sim.ivf_assign(emb, cent))
    assert "Window" not in plan, "window argmax reintroduced"
    assert "partial_min_by" in plan or "partial_minby" in plan.lower(), (
        "lost map-side combine in the quantizer argmax"
    )


def test_forecast_revenue_change_is_scan_only(spark):
    """Q6 shape: all predicates reach the parquet scan and the plan has
    ZERO exchanges besides the single-partition gather of the global
    aggregate — the canonical pushdown probe. A lost pushdown (e.g. a
    filter trapped behind a non-deterministic projection) would show up
    as a post-scan Filter over unpruned columns."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    df = REGISTRY["forecast_revenue_change"].builder(spark, SF)
    plan = _executed_plan(df)
    assert "Exchange hashpartitioning" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan.split("DataFilters")[1], "date filter not pushed"
    # column pruning: the scan reads exactly the 4 query columns plus
    # the catalog boundary's l_orderkey identity filter (the documented
    # PLANS.md boundary cost; l_shipdate is both a query column and the
    # boundary ts column)
    read_cols = {
        c.strip().split("#")[0]
        for c in scan.split("FileScan parquet [")[1].split("]")[0].split(",")
    }
    assert read_cols == {
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_shipdate",
    }, read_cols


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("nation_year_revenue", 1),
        ("promo_revenue_share", 1),
        ("disjunctive_brand_revenue", 1),
        ("small_qty_revenue", 2),
        ("dormant_rich_customers", 1),
    ],
)
def test_tpch_batch_shuffle_budget(spark, name, max_shuffles):
    """The r6 TPC-H batch pins its shuffle budgets: dims broadcast, one
    map-side-combined aggregate shuffle (two for Q17's per-part stats +
    join-back), and — for the avg-threshold queries — NO Window and no
    float average anywhere (the comparisons run as integer
    inequalities)."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(REGISTRY[name].builder(spark, SF))
    n = plan.count("Exchange hashpartitioning")
    assert n <= max_shuffles, f"{name}: {n} hash exchanges (budget {max_shuffles})"
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_dim_covariance_shuffle_is_partial_gram_sized(spark):
    """The covariance shuffle must move per-batch PARTIAL rows
    (O(batches·D²)), never corpus components: the aggregate's input is
    the mapInPandas output (grouped i/j partial sums), so the plan has
    a partial_sum HashAggregate directly above the Arrow stage and NO
    per-component posexplode feeding an exchange."""
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        gram_partial_totals,
    )

    emb = load_table(spark, "embeddings", SF)
    plan = _executed_plan(gram_partial_totals(emb))
    assert "MapInPandas" in plan
    assert "partial_sum" in plan, "lost map-side combine over partial Gram"
    assert "Generate" not in plan, (
        "per-component explode appeared - the shuffle would be "
        "corpus-component-sized"
    )


def test_pagerank_iteration_lineage_is_truncated(spark):
    """Each PageRank round must consume the CHECKPOINTED score table:
    without truncation round k replans rounds 1..k-1 (and the edge
    self-join) once per consumer — the connected-components lesson.
    The executed plan of the final scores therefore contains no
    lineitem scan and no self-join, only the checkpoint scan."""
    from streamlit_projet_spark_streaming_spark.operators.graph import (
        copurchase_edges,
        pagerank_integer,
    )

    li = load_table(spark, "lineitem", SF)
    pr = pagerank_integer(copurchase_edges(li), iters=2)
    plan = _executed_plan(pr)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "parquet" not in plan.lower(), (
        "final scores replay the raw lineitem scan - checkpoint lost"
    )


def test_triangle_census_wedge_join_has_no_window_or_cartesian(spark):
    """The triangle census must stay in equi-join + aggregate space:
    no Window (the census is agg-only) and no CartesianProduct (the
    wedge join keys on the shared root, the closing probe on (b, c))."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(
        REGISTRY["graph_triangle_census"].builder(spark, SF)
    )
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_hll_overlap_single_scan_partial_max(spark):
    """HLL set algebra: ONE events scan (A/B/union registers fold from
    one conditional-max table) with map-side partial_max before the
    <= 64-row shuffle."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(REGISTRY["users_hll_overlap"].builder(spark, SF))
    assert "partial_max" in plan, "lost map-side combine on registers"
    # one file scan of events only (A/B/union fold from one pass)
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")


def test_adaptive_quality_filter_no_per_doc_window(spark):
    """The per-source cutoff must come from score-bucket counts, never
    a per-document rank window: the Window in the plan may only run
    over the aggregated (source, score) table — assert the window's
    child contains an aggregate, by requiring partial_count BEFORE any
    Window in the plan string."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(
        REGISTRY["docs_adaptive_quality_filter"].builder(spark, SF)
    )
    assert "partial_count" in plan, "lost map-side combine on score buckets"
    # The bucket-cumulative form needs NO rank function at all; a
    # per-document rewrite would reintroduce row_number over doc rows.
    assert "row_number" not in plan, "per-document rank window reintroduced"


def test_label_outliers_no_pair_join(spark):
    """Embedding outlier screen is aggregate-only over |corpus|*D rows:
    no BroadcastNestedLoopJoin / CartesianProduct (an accidental
    vector-pair formulation would be O(n^2))."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(
        REGISTRY["embedding_label_outliers"].builder(spark, SF)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_front_is_window_only(spark):
    """Skyline must be the sort-filter rewrite: one Window, zero
    pair joins beyond the dimension join to customer."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    plan = _executed_plan(REGISTRY["orders_pareto_front"].builder(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_ordered_dense_index_not_single_partition(spark):
    """The dense node index (graph_negative_samples' index builder) must
    use the bucket-offset idiom: its only single-partition exchange is
    the one feeding the BOUNDED bucket-count cumulative window (VERDICT
    r6: the global ROW_NUMBER() OVER (ORDER BY node) was the round's one
    scale-killer). The data-sized ROW_NUMBER must partition by the
    bucket key, and the values must equal the global row number."""
    from streamlit_projet_spark_streaming_spark.operators.relational import (
        ordered_dense_index,
    )

    part = load_table(spark, "part", SF)
    nodes = part.select(part.p_partkey.alias("node")).distinct()
    idx = ordered_dense_index(nodes, "node", 64)
    plan = _executed_plan(idx)
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "windowspecdefinition(bkt" in plan, (
        "index row_number no longer partitioned by bucket"
    )
    rows = sorted((r["node"], r["idx"]) for r in idx.collect())
    assert [i for _, i in rows] == list(range(len(rows)))


def test_grid_kmeans_assignment_is_map_stage(spark):
    """grid_kmeans' corpus work must be Arrow map stages over the scan —
    never a data-sized join/shuffle of the corpus. The only joins in the
    assignment plan are the broadcast one-row codebook crossJoins; the
    centroid-update partials aggregate with a map-side combine."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    assigned, cent_rows = sim.grid_kmeans(emb, n_clusters=8, n_iter=2)
    plan = _executed_plan(assigned)
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan, "corpus-sized join in assignment"
    assert "Window" not in plan
    # centroid table is k·D rows whatever the corpus
    assert cent_rows.count() == 8 * 64


def test_maintenance_report_action_plan_is_cell_sized(spark):
    """The maintenance report's final action must read ONLY checkpointed
    inputs: both corpus passes (the applier's relabel + split
    quantization) run once, at the sufficient-statistics checkpoint
    materialization — a FileScan or MapInPandas in the action plan means
    a consumer is re-running corpus work (the r6 multi-consumer bug
    class). No windows either: every aggregate is a map-side-combined
    groupBy over cell-sized rows."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    _, cent_rows = sim.grid_kmeans(emb, n_clusters=8, n_iter=2)
    cent_rows = cent_rows.localCheckpoint(eager=False)
    cb_row = sim.kmeans_codebook_row(cent_rows).localCheckpoint(eager=False)
    stats = sim.ivf_cell_stats(emb, cb_row)
    plan_df = sim.ivf_cell_split_plan(
        stats, cent_rows, hot_num=17, hot_den=16, cold_num=15, cold_den=16,
        drift_threshold=1_500_000_000,
    )
    report = sim.maintenance_report(emb, cb_row, plan_df)
    report.collect()
    plan = _executed_plan(report)
    assert "FileScan" not in plan, "corpus re-scan in a report consumer"
    assert "MapInPandas" not in plan, "corpus Arrow pass re-run per consumer"
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_bitext_margin_rank_pushdown(spark):
    """All four margin-mining rank filters (two normalizer top-k, the
    forward and backward top-1) must plan as WindowGroupLimit (rank
    pushdown — never a full sort-materialize of the pair table), the
    pair scoring must not re-run per consumer (no FileScan in the
    action plan; the cosine folds live at the pairs checkpoint), and
    the |S|x|T| loop must never degrade to a CartesianProduct."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF)
    out = sim.bitext_margin_pairs(emb, src_label=0, tgt_label=1, k=4)
    out.collect()
    plan = _executed_plan(out)
    assert plan.count("WindowGroupLimit") >= 4
    assert "FileScan" not in plan, "pair scoring re-run in a consumer"
    assert "CartesianProduct" not in plan
