"""Plan-quality regression tests: pushdown, pruning, and join strategy of
the certified queries are asserted mechanically (delta_rs_spark.plans).
These are the properties that decide 100 TB behavior; losing one is a perf
bug even while results stay correct."""

import pytest
from pyspark.sql import functions as F

from delta_rs_spark.catalog import QUERIES
from delta_rs_spark.plans import (
    assert_columns_pruned,
    assert_filter_pushed,
    assert_no_nested_loop_join,
    summarize,
)

LINEITEM_WIDTH = 11


@pytest.fixture()
def q(spark, sf_dir):
    def build(name):
        return QUERIES[name].spark(spark, sf_dir)

    return build


def test_q1_pushdown_and_pruning(q):
    df = q("q1_pricing_summary")
    assert_filter_pushed(df, "l_shipdate")
    assert_columns_pruned(df, LINEITEM_WIDTH)


def test_q6_pushdown(q):
    df = q("q6_forecast_revenue")
    assert_filter_pushed(df, "l_shipdate")
    assert_filter_pushed(df, "l_discount")
    assert_columns_pruned(df, LINEITEM_WIDTH)
    # single scan, no joins: one partial+final agg pair at most
    s = summarize(df)
    assert s.scans == 1
    assert s.exchanges <= 2


def test_q3_broadcasts_dimension(q):
    s = summarize(q("q3_shipping_priority"))
    assert s.broadcast_hash_joins >= 1
    assert s.nested_loop_joins == 0
    # customer scan reads only the join/filter columns
    assert any(set(cols) == {"c_custkey", "c_mktsegment"} for cols in s.read_schemas)


def test_q5_q7_no_cartesian(q):
    for name in ("q5_nation_revenue", "q7_nation_volume"):
        df = q(name)
        assert_no_nested_loop_join(df)
        assert summarize(df).broadcast_hash_joins >= 2


# queries that INTENTIONALLY cross join (a broadcast of a 1-row aggregate)
CARTESIAN_OK = {
    "q11_important_parts",    # 1-row sum-threshold broadcast
    "q15_top_supplier",       # 1-row max broadcast
    "q22_idle_customers",     # 1-row avg broadcast
    "q_events_funnel",        # crossJoin of three 1-row stage counts
}


@pytest.mark.slow  # builder tier: see pyproject [tool.pytest.ini_options]
def test_every_certified_query_builds_and_avoids_cartesian(spark, sf_dir):
    """Whole-surface gate: all certified queries must analyze successfully
    and, unless whitelisted, contain no nested-loop/Cartesian join."""
    offenders = {}
    for name, qd in QUERIES.items():
        df = qd.spark(spark, sf_dir)
        s = summarize(df)
        if name not in CARTESIAN_OK and s.nested_loop_joins:
            offenders[name] = s.nested_loop_joins
    assert not offenders, f"unexpected nested-loop joins: {offenders}"


def test_events_funnel_no_cartesian_and_pruned(q):
    """Stage tables are 1-row aggregates; the final crossJoins must be
    broadcast (trivial), the per-stage joins hash joins, never nested-loop
    over the fact table."""
    df = q("q_events_funnel")
    s = summarize(df)
    # the three 1-row count frames combine via broadcast nested loop on
    # literally one row each — acceptable; what must NOT happen is a
    # nested-loop involving a scan-sized input. Assert every events scan is
    # column-pruned instead (6-col table, funnel needs 3).
    assert all(len(cols) <= 3 for cols in s.read_schemas)
    assert_filter_pushed(df, "event_type")


def test_events_retention_single_scan_shape(q):
    df = q("q_events_retention")
    s = summarize(df)
    assert_no_nested_loop_join(df)
    # user-day distinct + first-day agg + join: everything keyed on user_id
    assert s.broadcast_hash_joins + s.sort_merge_joins + s.shuffled_hash_joins >= 1
    assert all(len(cols) <= 2 for cols in s.read_schemas)


def test_events_pivot_one_shuffle(q):
    df = q("q_events_pivot")
    s = summarize(df)
    # single groupBy pivot: one scan; shuffles limited to agg + final sort
    assert s.scans == 1
    assert s.exchanges <= 3


def test_referential_integrity_key_only_anti_joins(q):
    """Every anti join must carry only the key column per side (Catalyst
    prunes the rest), and none may degrade to a nested loop."""
    df = q("q_referential_integrity")
    s = summarize(df)
    assert_no_nested_loop_join(df)
    assert all(len(cols) == 1 for cols in s.read_schemas)
    assert s.broadcast_hash_joins >= 3  # part/supplier/customer dims broadcast


def test_daily_revenue_ma7_single_scan_pruned(q):
    """One orders scan reading only (o_orderdate, o_totalprice); the window
    runs on the aggregated daily series, after a map-side partial agg."""
    df = q("q_daily_revenue_ma7")
    s = summarize(df)
    assert s.scans == 1
    assert all(len(cols) == 2 for cols in s.read_schemas)


def test_customer_deciles_single_scan_pruned(q):
    df = q("q_customer_value_deciles")
    s = summarize(df)
    assert s.scans == 1
    assert all(len(cols) == 2 for cols in s.read_schemas)


def test_identity_and_default_assignment_is_codegen_no_shuffle(spark, tmp_path, sf_dir):
    """The identity + DEFAULT write-path expressions must add ZERO
    exchanges and no Python eval node — assignment is base + step *
    monotonically_increasing_id and a literal default, pure codegen."""
    import os as _os

    from delta_rs_spark import write_deltalake
    from delta_rs_spark.protocol import defaults as dfl
    from delta_rs_spark.protocol import identity as idc
    from delta_rs_spark.plans import _plan_text, summarize

    uri = str(tmp_path / "t")
    src = spark.read.parquet(_os.path.join(sf_dir, "region.parquet"))
    t = write_deltalake(
        spark,
        src,
        uri,
        identity_columns={"id": {}},
        column_defaults={"tier": "'bronze'"},
    )
    schema = t.schema()

    incoming = src  # an append frame omitting both declared columns
    assigned, _specs = idc.apply_on_write(incoming, schema)
    with_defaults = dfl.apply_on_write(assigned, schema)

    base = summarize(incoming)
    enriched = summarize(with_defaults)
    assert enriched.exchanges == base.exchanges == 0
    text = _plan_text(with_defaults)
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


HEADLINE = [name for name, qd in QUERIES.items() if qd.headline]


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_executed_plan_survives_aqe(spark, sf_dir, name):
    """Re-summarize AFTER materialization: the pre-execution checks above
    can't see AQE demoting a misestimated broadcast to a sort-merge join,
    and the executed tree is the only place whole-stage codegen is visible
    at all. Every headline query must keep its joins broadcast (no SMJ /
    shuffled-hash anywhere) and run with at least one codegen span."""
    from delta_rs_spark.plans import summarize_executed

    df = QUERIES[name].spark(spark, sf_dir)
    df.collect()
    s = summarize_executed(df)
    assert s.sort_merge_joins == 0, f"{name}: broadcast demoted to SMJ"
    assert s.shuffled_hash_joins == 0, f"{name}: shuffled-hash join appeared"
    if name not in CARTESIAN_OK:
        assert s.nested_loop_joins == 0, f"{name}: nested-loop in executed plan"
    assert s.codegen_spans >= 1, f"{name}: no whole-stage codegen span ran"
    # the bench sidecar's column-pruning signal must never be blind: every
    # scan reports a non-empty ReadSchema (plan-string truncation used to
    # silently drop these — now sourced from the formatted detail blocks)
    assert len(s.read_schemas) >= s.scans, f"{name}: ReadSchema lost to truncation"
    assert all(cols for cols in s.read_schemas), f"{name}: empty ReadSchema entry"


# ---------------------------------------------------------------------------
# operators/: the same plan properties for the DataFrame operators, built
# directly over the test tables (they are outside the certified catalog)
# ---------------------------------------------------------------------------


@pytest.fixture()
def table(spark, sf_dir):
    from delta_rs_spark.sources.tables import load_table

    return lambda name: load_table(spark, sf_dir, name)


def test_range_join_is_equi_not_nested_loop(table):
    """The whole point of the bucketed range join: no BroadcastNestedLoopJoin
    for the interval predicate (views within 5 minutes after each error)."""
    from pyspark.sql import functions as F

    from delta_rs_spark.operators import timeseries

    e = table("events")
    views = e.filter(F.col("event_type") == "view").select("ts")
    windows = (
        e.filter(F.col("event_type") == "error")
        .select(F.col("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 5 MINUTES"))
    )
    matched = timeseries.range_join(
        views, windows, on="ts", start_col="w_start", end_col="w_end", bucket_width=300.0
    )
    counts = matched.groupBy("w_start").agg(F.count(F.lit(1)).alias("n_views"))
    df = windows.join(counts, "w_start", "left")
    s = summarize(df)
    assert s.broadcast_hash_joins + s.sort_merge_joins + s.shuffled_hash_joins >= 1
    # the left-restore join may broadcast but must not be nested-loop
    assert s.nested_loop_joins == 0


def test_asof_join_single_shuffle_per_side(table):
    from pyspark.sql import functions as F

    from delta_rs_spark.operators import timeseries

    e = table("events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    errors = e.filter(F.col("event_type") == "error").select("user_id", "ts", "value")
    df = timeseries.asof_join(clicks, errors, on="ts", by="user_id", right_cols=["value"])
    s = summarize(df)
    assert s.nested_loop_joins == 0
    # union + one window: no join explosion — at most the window shuffle
    assert s.broadcast_hash_joins + s.sort_merge_joins + s.shuffled_hash_joins == 0


def test_embedding_cosine_dedup_is_bucketed_not_cartesian(table):
    """Near-dup pairs at threshold 0.4 (the blocked-GEMM path): block
    routing is two broadcast equi-joins + a cogroup — no cross join
    anywhere in the plan (the O(n²) brute force remains only as the test
    oracle)."""
    from delta_rs_spark.operators import dedup

    df = dedup.embedding_cosine_pairs(table("embeddings"), threshold=0.4)
    assert_no_nested_loop_join(df)
    s = summarize(df)
    assert s.broadcast_hash_joins + s.sort_merge_joins + s.shuffled_hash_joins >= 2


def test_topk_is_two_phase(table):
    """Per-query top-k must reduce per (query, input partition) BEFORE the
    per-query window, so no reducer ever sees O(corpus) rows for one query
    key: two Window nodes in the plan, the first keyed on the partition id."""
    from pyspark.sql import functions as F

    from delta_rs_spark.operators import similarity

    emb = table("embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    for name, df in (
        ("cosine_topk", similarity.cosine_topk(emb, probes, k=10)),
        ("lsh_topk", similarity.lsh_topk(emb, probes, k=10, n_planes=4, n_tables=16)),
        ("ivf_topk", similarity.ivf_topk(emb, probes, k=10, n_list=8, n_probe=6)),
    ):
        s = summarize(df)
        assert s.windows >= 2, f"{name}: expected partial+final windows, got {s.windows}"


def test_histogram_single_scan_pruned(table):
    """Profiling must stay one pass: a single pruned scan and at most the
    partial/final agg exchange pair."""
    from delta_rs_spark.operators import profiling

    df = profiling.numeric_histogram(table("lineitem"), "l_extendedprice", 0.0, 60000.0, 20)
    s = summarize(df)
    assert s.scans == 1
    assert any(set(cols) == {"l_extendedprice"} for cols in s.read_schemas)


def test_column_profile_single_scan(table):
    from delta_rs_spark.operators import profiling

    cols = ["l_quantity", "l_discount", "l_tax"]
    s = summarize(profiling.column_profile(table("lineitem"), cols))
    assert s.scans == 1
    assert any(set(c) == set(cols) for c in s.read_schemas)


def test_tfidf_no_extra_scans(table):
    """tf, df and N all derive from ONE documents scan (reused exchange /
    cached branch), and the N-broadcast is the only nested-loop join."""
    from delta_rs_spark.operators import corpus

    s = summarize(corpus.tfidf_top_terms(table("documents"), k=3))
    assert s.nested_loop_joins <= 1


def test_stratified_sample_window_group_limit(table):
    """The per-stratum rank must be limit-pushed (WindowGroupLimit), so no
    stratum ever fully materializes in the window sort."""
    from delta_rs_spark.operators import sampling
    from delta_rs_spark.plans import _plan_text

    df = sampling.stratified_take(table("documents"), "source", 5, id_col="doc_id")
    assert "WindowGroupLimit" in _plan_text(df)


def test_rolling_zscore_single_scan_pruned_window(table):
    """The anomaly gate is one pruned scan + one keyed window pass — no
    self-joins, no second scan of events, props column never read."""
    from delta_rs_spark.operators import profiling

    s = summarize(profiling.rolling_zscore(table("events")))
    assert s.scans == 1
    assert s.windows >= 1
    assert not s.nested_loop_joins
    assert all("props" not in cols for cols in s.read_schemas)


def test_substring_dedup_pruned_and_bucketed(table):
    """Exact-substring dedup must stay linear: pruned scans (only doc_id +
    text ever read), the census/anti-join on gram hashes as hash joins —
    never a nested loop — and no sort-merge demotion of the per-doc
    reassembly joins."""
    from delta_rs_spark.operators import text

    s = summarize(text.substring_dedup(table("documents"), min_count=2, window=10))
    assert not s.nested_loop_joins
    assert s.sort_merge_joins == 0
    assert all(set(cols) <= {"doc_id", "text"} for cols in s.read_schemas), (
        s.read_schemas
    )


def test_clustered_semantic_dedup_no_corpus_nlj(table):
    """Cluster-first semantic dedup must never plan a corpus-wide
    nested-loop: pairs come from the within-cluster cogrouped GEMM, the
    keeplist from a size-adaptive anti join."""
    from delta_rs_spark.operators import dedup

    df = dedup.semantic_keeplist(
        table("embeddings"), threshold=0.4, method="clustered", n_list=4, n_probe=4
    )
    s = summarize(df)
    assert not s.nested_loop_joins
    assert s.sort_merge_joins == 0


# every keeplist operator's final step subtracts a duplicates-scaled loser
# (or non-winner) set; name -> builder over the test tables
KEEPLIST_OPERATORS = {
    "semantic_keeplist": lambda dedup, t: dedup.semantic_keeplist(
        t("embeddings"), threshold=0.4
    ),
    "semantic_keeplist_clustered": lambda dedup, t: dedup.semantic_keeplist(
        t("embeddings"), threshold=0.4, method="clustered", n_list=4, n_probe=4
    ),
    "semantic_keeplist_collapsed": lambda dedup, t: dedup.semantic_keeplist_collapsed(
        t("embeddings"), threshold=0.4
    ),
    "keeplist_by_score": lambda dedup, t: dedup.keeplist_by_score(
        t("documents"),
        dedup.ngram_jaccard_pairs(t("documents"), threshold=0.8, n=3),
        score=F.length("text"),
    ),
}


@pytest.mark.slow  # builder tier: see pyproject [tool.pytest.ini_options]
@pytest.mark.parametrize("name", sorted(KEEPLIST_OPERATORS))
def test_keeplist_anti_joins_are_unhinted(table, name):
    """The keeplist anti joins (and keeplist_by_score's winners join) must
    carry NO forced broadcast hint. The losers/winners frames are every
    duplicate id / cluster — at a fixed dup rate a constant FRACTION of the
    corpus, 10⁸-10⁹ ids at 100 TB — so a forced F.broadcast there is a
    driver-OOM plan. Strategy choice belongs to AQE's runtime sizes.
    Asserted on the OPTIMIZED logical plan, where a forced hint is a static
    property independent of runtime sizes; the keeplist chains have no
    legitimate hint at all (pair generation is severed behind the
    components checkpoint), so the assertion is simply hint-free."""
    from delta_rs_spark.operators import dedup

    df = KEEPLIST_OPERATORS[name](dedup, table)
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    hinted = [
        ln.strip()
        for ln in txt.splitlines()
        if "strategy=" in ln
        # the deletion-vector position anti join inside the Delta READ
        # path hints broadcast only when the descriptors' total
        # sizeInBytes clears the scan's DV_BROADCAST_MAX_BYTES gate — a
        # different component with its own (size-gated) contract; this
        # gate is about the duplicates-scaled loser/winner joins
        and "_dv_pos" not in ln
    ]
    assert not hinted, f"{name}: forced join hint in keeplist plan: {hinted}"
