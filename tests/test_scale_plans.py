"""Scale-behavior tests: partition pruning on the warehouse layout,
salted-join equivalence, and plan-shape assertions for the headline
queries (the .explain invariants ARCHITECTURE.md documents)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ed_clickhouse_spark.operators.joins import salted_join
from ed_clickhouse_spark.streaming.pipeline import append_events
from ed_clickhouse_spark.suite import QUERIES


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partition_pruning_on_warehouse(spark, tmp_path):
    # write 3 days of events through the engine's write policy, then
    # verify a day filter prunes partitions at plan time
    rows = [
        (f"e{i}", "login", f"2024-01-0{d} 10:00:0{i}")
        for d in (1, 2, 3)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "event_id string, event_name string, ts string").select(
        "event_id", "event_name", F.col("ts").cast("timestamp").alias("timestamp")
    )
    wh = str(tmp_path)
    append_events(df, wh, "login_events")
    scan = spark.read.parquet(f"{wh}/login_events").filter(
        F.col("event_date") == "2024-01-02"
    )
    assert scan.count() == 5
    plan = _plan(scan)
    # only one of three event_date partitions survives pruning
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"partitions read: (\d+)", plan)
    if m:  # spark prints matched partition count in the scan node
        assert m.group(1) == "1"


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", f"k{i % 5}")], "k string, v int"
    )
    right = spark.createDataFrame(
        [("hot", 1), ("k0", 2), ("k3", 3)], "k string, w int"
    )
    plain = left.join(right, "k").groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    salted = salted_join(left, right, "k").groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-bucketed tables join without an exchange — the physical layout
    IS the partitioning (the repeated-fact-join strategy at 100 TB)."""
    from ed_clickhouse_spark.sources.io import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
        right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
        write_bucketed(left, "bkt_left", 4, ["k"], sort_cols=["k"])
        write_bucketed(right, "bkt_right", 4, ["k"], sort_cols=["k"])
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # no shuffle: buckets align
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_headline_plan_shapes(spark):
    sf = "/root/testdata/sf0.001"
    p = _plan(QUERIES["q01_pricing_summary"](spark, sf))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p  # predicate reached the scan
    assert "HashAggregate" in p                          # two-phase agg
    p = _plan(QUERIES["q20_star_join_revenue"](spark, sf))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    p = _plan(QUERIES["q27_topk_per_group"](spark, sf))
    assert "WindowGroupLimit" in p                       # top-k pushed below shuffle
    p = _plan(QUERIES["q03_top_orders"](spark, sf))
    assert "TakeOrderedAndProject" in p                  # no global sort


def test_llmdata_plan_shapes(spark):
    """100 TB plan invariants for the training-data operators: the
    benchmark side of decontamination broadcasts (corpus never shuffles
    on the gram key), ngram top-k partial-aggregates map-side, and no
    new operator falls back to a cartesian product."""
    sf = "/root/testdata/sf0.001"
    p = _plan(QUERIES["q89_decontamination"](spark, sf))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    p = _plan(QUERIES["q92_ngram_topk"](spark, sf))
    assert "HashAggregate" in p            # two-phase count of grams
    assert "WindowGroupLimit" in p         # per-group top-k pushed down
    p = _plan(QUERIES["q91_stratified_sample"](spark, sf))
    # one Exchange for the stratum window; no join, no cartesian
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 2
    p = _plan(QUERIES["q90_quality_filter"](spark, sf))
    # pure per-row rules + one agg: exactly one shuffle
    assert p.count("Exchange") <= 2 and "Join" not in p


def test_event_analytics_plan_shapes(spark):
    sf = "/root/testdata/sf0.001"
    # retention: the (user, day) dedup happens BEFORE the per-user agg
    p = _plan(QUERIES["q93_retention"](spark, sf))
    assert "HashAggregate" in p and "CartesianProduct" not in p
    # funnel variants shuffle once on user_id; the fold is JVM HOFs
    p = _plan(QUERIES["q95_window_funnel"](spark, sf))
    assert "BatchEvalPython" not in p      # no row-at-a-time Python
    assert "CartesianProduct" not in p


def test_search_and_sampling_plan_shapes(spark):
    """q98/q100/q102 invariants: corpus statistics and per-term document
    frequencies broadcast (the posting lists never shuffle to meet a
    scalar), and nothing degenerates to a cartesian product."""
    sf = "/root/testdata/sf0.001"
    p = _plan(QUERIES["q98_bm25_search"](spark, sf))
    # r11 pivoted BM25: corpus stats (N, avgdl, per-term df) ride ONE
    # 1-row broadcast; scoring is a pure projection + TakeOrdered — no
    # posting-list joins, no explode, no per-doc shuffle at all.
    assert "Generate" not in p  # no token explode on the small-terms path
    # the only nested-loop join allowed is the single-row stats broadcast
    # (formatted explain prints each node twice: tree line + detail block)
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert "TakeOrderedAndProject" in p
    p = _plan(QUERIES["q100_weighted_sample"](spark, sf))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    p = _plan(QUERIES["q102_source_overlap"](spark, sf))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p


def test_dedup_clusters_plan_is_copartitioned(spark):
    """One label-propagation round = joins keyed on the node id and a
    groupBy-min on the same key — no cartesian, no Python eval; the
    iteration state is a localCheckpoint (lineage does not grow).
    Pinned with the small-graph fast path DISABLED so the assertion
    covers the distributed (100 TB) branch; the fast path itself is
    value-covered by the unit and oracle tests."""
    from ed_clickhouse_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    spark.conf.set("spark.ed.cc_collect_max_edges", "0")
    try:
        out = dedup_clusters(pairs)
        p = _plan(out)
    finally:
        spark.conf.unset("spark.ed.cc_collect_max_edges")
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    # converged labels come from a checkpoint scan, not a re-planned loop
    assert "ExistingRDD" in p or "Scan" in p


def test_ch_specialty_plan_shapes(spark):
    """q105-q112 invariants: the MergeTree-semantics and specialty-agg
    queries stay in JVM codegen, never cartesian, and the FINAL/sumMap
    shapes shuffle only on their merge keys."""
    sf = "/root/testdata/sf0.001"
    for q in (
        "q105_replacing_final", "q106_summing_merge", "q107_sum_map",
        "q108_delta_sum", "q109_interval_union", "q111_with_totals",
        "q112_sample_clause",
    ):
        p = _plan(QUERIES[q](spark, sf))
        assert "CartesianProduct" not in p, q
        assert "BatchEvalPython" not in p, q
    # WITH TOTALS is ONE expanded aggregate, not a union of two scans
    p = _plan(QUERIES["q111_with_totals"](spark, sf))
    assert "Union" not in p
    # dictGet resolves through broadcast only — fact side never shuffles
    p = _plan(QUERIES["q110_dict_get"](spark, sf))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_rank_stats_plan_shapes(spark):
    """100 TB invariants for the rank-statistics family: rows compress
    to per-distinct-value counts BEFORE any ordered pass (partial
    HashAggregate map-side), no operator introduces a cartesian, and —
    since the range-partitioned cumsum rewrite — NO window runs
    unpartitioned: every cumulative pass is keyed on the range-bucket
    id, so it parallelizes even when distinct values ~= rows
    (continuous measures)."""
    sf = "/root/testdata/sf0.001"
    # pin the LARGE shape: disable the adaptive small-input fast path so
    # the plan assertion covers the 100 TB branch regardless of test size
    spark.conf.set("spark.ed.rank_cumsum_small_bytes", "0")
    try:
        for q in ("q142_mann_whitney", "q144_ks_test", "q148_auc"):
            p = _plan(QUERIES[q](spark, sf))
            assert "HashAggregate" in p, q      # count-compression first
            assert "CartesianProduct" not in p, q
            # the window input is the aggregated count table, never raw
            # rows: Window appears after the aggregate in the plan
            assert p.index("HashAggregate") < p.index("Window"), q
            # distributed cumsum: the window partitions on the
            # range-bucket id (never an empty partition spec), fed by a
            # range exchange
            assert "rangepartitioning" in p.lower(), q
            import re as _re

            for spec in _re.findall(r"partitionBy=\[([^\]]*)\]", p):
                assert spec.strip(), f"{q}: unpartitioned window in plan"
    finally:
        spark.conf.unset("spark.ed.rank_cumsum_small_bytes")
    # the adaptive fast path (default byte bound, decided job-free from
    # Catalyst plan statistics) skips the range exchange for
    # count-compressed inputs under the bound — a single ordered window
    p = _plan(QUERIES["q142_mann_whitney"](spark, sf))
    assert "rangepartitioning" not in p.lower()
    p = _plan(QUERIES["q152_zipf_slope"](spark, sf))
    assert "TakeOrderedAndProject" in p         # top-N, no global sort
    p = _plan(QUERIES["q159_topk_weighted"](spark, sf))
    assert "TakeOrderedAndProject" in p


def test_q17_avg_frame_is_brand_bounded(spark):
    """q120 (TPC-H Q17): the per-partkey threshold frame is semi-joined
    against the filtered brand dim BEFORE joining back, so no
    corpus-cardinality frame is ever forced into a broadcast; the plan
    carries the LeftSemi and no forced BroadcastExchange hint survives
    analysis (AQE may still choose broadcast at runtime from measured
    sizes — that is the point)."""
    df = QUERIES["q120_small_qty_revenue"](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_lttb_plan_broadcasts_anchors(spark):
    """LTTB joins points to bucket anchors via broadcast (n_buckets
    rows per group) — the raw series never shuffles twice."""
    sf = "/root/testdata/sf0.001"
    p = _plan(QUERIES["q154_lttb_downsample"](spark, sf))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_chsql_sample_pushes_to_scan(spark):
    """The dialect front-end's SAMPLE rewrite is a scan predicate: the
    md5 hash-range filter sits in the scanned subquery, no shuffle, no
    sample materialization."""
    from ed_clickhouse_spark.catalog import read_table
    from ed_clickhouse_spark.chsql import translate
    from ed_clickhouse_spark.ddl import parse_clickhouse_ddl

    read_table(spark, "/root/testdata/sf0.001", "events").createOrReplaceTempView(
        "events"
    )
    spec = parse_clickhouse_ddl(
        "CREATE TABLE events (event_id Int64, user_id Int64, value Float64)"
        " ENGINE = MergeTree() ORDER BY event_id SAMPLE BY user_id"
    )
    tr = translate("SELECT user_id, value FROM events SAMPLE 0.25", {"events": spec})
    p = _plan(spark.sql(tr.sql))
    assert "Exchange" not in p and "Filter" in p


def test_intake_pipeline_two_shuffles(spark):
    """q180's whole chunk->dedup->gate->account DAG runs in exactly two
    shuffle exchanges: the fingerprint window and the tiny source
    rollup. No join-induced extra exchanges, no cartesian — and since
    round 5 the source dimension rides through the chunker's per-row
    projection (carry_cols), so no broadcast of the corpus-cardinality
    doc-id table appears anywhere in the plan either."""
    import re

    p = _plan(QUERIES["q180_intake_pipeline"](spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 2
    assert "BroadcastExchange" not in p
    assert "CartesianProduct" not in p


def test_jaccard_pairs_has_no_join_in_candidate_stage(spark):
    """q45's posting-list formulation: candidate pairs come from one
    groupBy(shingle) + in-partition HOF pair generation — no self-join
    (the former SortMergeJoin on the shingle hash), no cartesian. The
    size lookups carry NO forced broadcast hint (the pair-set bound is
    data-dependent); instead the semi-joined sizes frame is persisted
    and AQE picks broadcast at runtime from its observed size — the
    executed final plan proves it did."""
    # cache-independent plan shape: earlier tests (entry contract) may
    # leave q45's persisted frames pinned, which would swap the asserted
    # joins for InMemoryTableScan nodes
    spark.catalog.clearCache()
    df = QUERIES["q45_jaccard_pairs"](spark, "/root/testdata/sf0.001")
    # static plan: no forced broadcast survives analysis, no cartesian
    p0 = _plan(df)
    assert "CartesianProduct" not in p0
    assert "LeftSemi" in p0
    # executed plan: AQE chose broadcast for both size lookups
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_any_join_sql_plan_shape(spark):
    """The ch_sql ANY JOIN rewrite keeps any_join's physical contract:
    the rank-1 filter pushes into the sort (WindowGroupLimit), so the
    right side reduces to one row per key BEFORE the join and no group
    ever fully materializes."""
    from ed_clickhouse_spark.catalog import read_table
    from ed_clickhouse_spark.chsql import translate

    read_table(spark, "/root/testdata/sf0.001", "orders").createOrReplaceTempView(
        "orders"
    )
    read_table(spark, "/root/testdata/sf0.001", "customer").createOrReplaceTempView(
        "customer"
    )
    p = _plan(
        spark.sql(
            translate(
                "SELECT count(*) AS n FROM orders ANY LEFT JOIN orders "
                "AS o2 USING (o_custkey)"
            ).sql
        )
    )
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_hybrid_rrf_plan_shape(spark):
    """q204's fusion joins two 50-row ranked lists: the scale cost is
    the retrieval tiers, and the plan must not shuffle the corpus for
    the fusion itself — no cartesian anywhere, and the semantic tier's
    query vector joins broadcast."""
    p = _plan(QUERIES["q204_hybrid_search_rrf"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_passage_excision_plan_shape(spark):
    """q209's stages must all be linear: no cartesian anywhere, the
    duplicate-gram join keyed on the 16-hex hash (no raw-text sort-merge
    keys), and the rebuild a single doc-keyed aggregate."""
    p = _plan(QUERIES["q209_passage_excision"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # gram keys are md5-prefixed BEFORE any exchange: the join condition
    # mentions gram_key, never a raw gram string
    assert "gram_key" in p


def test_round6_queries_plan_shapes(spark):
    """The three round-6 queries keep the shapes their docstrings claim:
    pushed-down type filters, pruned scans, no joins or cartesians —
    each is collect_list-fold (q217/q219) or pure aggregation (q218)."""
    import re

    spark.catalog.clearCache()
    for name, max_exchanges in [
        ("q217_sequence_count_adjacent", 3),  # group, histogram, sort
        ("q218_star_apply_monitoring", 2),    # group, sort
        ("q219_sequence_count_deadline", 3),
    ]:
        p = _plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert "Join" not in p and "CartesianProduct" not in p, name
        n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
        assert n_ex <= max_exchanges, (name, n_ex)
    # the sequence folds push their event-type filters into the scan
    p = _plan(QUERIES["q219_sequence_count_deadline"](spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [In(event_type" in p


def test_funnel_ch_plan_single_user_shuffle(spark):
    """funnel_ch (q221-q223): one shuffle on the group key feeding a
    single JVM aggregate() fold — no join, no cartesian, and the scan
    prunes to exactly (ts, user_id, event_type) even in strict_order
    mode where the input is NOT pre-filtered."""
    df = QUERIES["q221_funnel_strict_order"](spark, "/root/testdata/sf0.001")
    p = _plan(df)
    assert "CartesianProduct" not in p and "Join" not in p
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and set(
        f.split(":")[0] for f in m.group(1).split(",")
    ) == {"ts", "user_id", "event_type"}


def test_round7_queries_plan_shapes(spark):
    """Round-7 query shapes: the strdist pair (q225/q226) reduce to
    vocabulary FIRST (one distinct exchange chain) and cross only the
    broadcast literal probe rows (BroadcastNestedLoopJoin over <=6 rows
    — never a shuffled or cartesian product); the time-decayed window
    family (q227) is a single user-keyed Window with zero joins, its
    scan pruned to the four columns the fold needs."""
    import re

    spark.catalog.clearCache()
    for name in ("q225_fuzzy_vocab_match", "q226_jaro_winkler_rank"):
        p = _plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" in p, name
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, name
        # scan reads only the text column being tokenized
        m = re.search(r"ReadSchema: struct<([^>]*)>", p)
        assert m and m.group(1).split(":")[0] == "text", name
    p = _plan(QUERIES["q227_time_decayed_windows"](spark, "/root/testdata/sf0.001"))
    assert "Join" not in p and "CartesianProduct" not in p
    # r8: the unbounded spelling routes to the segmented running plan —
    # TWO incremental Windows (within-segment prefix + previous-segment
    # RANGE), no per-row collect_list frame
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 2
    assert "collect_list" not in p
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_ex <= 2, n_ex  # user_id hash (+ the per-segment sort)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "event_id", "ts", "user_id", "value",
    }


def test_q228_q229_plan_shapes(spark):
    """q228: alias inlining (not subquery wrapping) keeps the simple
    predicates eligible for parquet pushdown — the scan must carry
    l_quantity/l_returnflag filters. q229: the -Resample expansion is
    ONE aggregate over the base scan (five conditional counts), the
    explode a Generate on the aggregated 15-ish rows — exactly one
    exchange, no join."""
    import re

    spark.catalog.clearCache()
    p = _plan(QUERIES["q228_alias_in_where"](spark, "/root/testdata/sf0.001"))
    assert "Join" not in p
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "l_quantity" in m.group(1) and "l_returnflag" in m.group(1)
    p = _plan(QUERIES["q229_resample_histogram"](spark, "/root/testdata/sf0.001"))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Generate" in p  # the ARRAY JOIN explode
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_ex <= 1, n_ex


def test_q231_q232_plan_shapes(spark):
    """q231 (state/merge rollup tree): exactly the two aggregation
    levels its docstring claims — two exchanges (one per GROUP BY),
    both map-side combined, no joins, no Python. q232 (PR/ROC AUC):
    one group-key exchange feeding collect_list partials, the AUC
    folds pure codegen over the grouped arrays — no O(n^2) shape, no
    joins, no Python (the old pair-matrix arrayAUC died here at
    sf0.1's 250k-score cohorts)."""
    import re

    spark.catalog.clearCache()
    p = _plan(QUERIES["q231_state_merge_rollup"](spark, "/root/testdata/sf0.001"))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Python" not in p and "BatchEvalPython" not in p
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_ex == 2, n_ex
    # partial aggregation on both levels: at least two HashAggregate
    # pairs (partial + final per GROUP BY)
    n_agg = len(re.findall(r"HashAggregate", p))
    assert n_agg >= 4, n_agg
    p = _plan(QUERIES["q232_pr_auc_eval"](spark, "/root/testdata/sf0.001"))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Python" not in p and "BatchEvalPython" not in p
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_ex <= 2, n_ex  # group-key shuffle (+AQE final coalesce)


def test_q233_q234_plan_shapes(spark):
    """q233 (AggregatingMergeTree loop): pure aggregation tree — no
    joins, no cartesian, no Python anywhere; the two -State parts and
    the merge are all map-side-combinable aggregates. q234 (HTML
    extraction): the UDF must ride Arrow (ArrowEvalPython), NEVER the
    per-row BatchEvalPython, and the doc_id filter pushes into the
    parquet scan."""
    spark.catalog.clearCache()
    p = _plan(QUERIES["q233_aggregating_merge_tree"](
        spark, "/root/testdata/sf0.001"))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Python" not in p
    p = _plan(QUERIES["q234_html_text_extraction"](
        spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p
    assert "PushedFilters: [" in p and "doc_id" in p


def test_q227_time_decayed_routes_to_running_windows(spark):
    """Round 8 (verdict #4): the UNBOUNDED running spelling of
    exponentialTimeDecayed* must auto-route to the segmented
    two-running-sums plan — pure incremental Window aggregates, NO
    per-row collect_list frame (the HOF fold is O(frame^2) per
    partition and stays only for bounded frames). Also: no Python, no
    joins."""
    spark.catalog.clearCache()
    p = _plan(QUERIES["q227_time_decayed_windows"](
        spark, "/root/testdata/sf0.001"))
    assert "collect_list" not in p
    assert "Window" in p
    assert "Python" not in p and "Join" not in p


def test_q235_q239_round8_plan_shapes(spark):
    """Round-8 additions keep the shapes their docstrings claim. q235
    (resample-if buckets): a single aggregation pass — no joins, no
    Python, map-side combinable. q236 (array pipeline): per-row HOF
    work with the vec_id filter pushed into the parquet scan; no
    shuffle at all. q238 (hop windows): the sliding-window explode +
    one group-key exchange; no Python. q239 (bitmap retention): the
    per-day distinct aggregation shuffles on day; the day-to-day
    self-join is broadcast (AQE or static), never a sort-merge over
    events."""
    import re

    spark.catalog.clearCache()
    p = _plan(QUERIES["q235_resample_if_buckets"](
        spark, "/root/testdata/sf0.001"))
    assert "Join" not in p and "Python" not in p
    p = _plan(QUERIES["q236_array_pipeline"](
        spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in p and "Python" not in p
    assert "PushedFilters: [" in p and "vec_id" in p
    p = _plan(QUERIES["q238_hop_windows"](
        spark, "/root/testdata/sf0.001"))
    assert "Python" not in p
    assert "Expand" in p  # the sliding-window multi-assignment
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_ex <= 2, n_ex
    p = _plan(QUERIES["q239_bitmap_retention"](
        spark, "/root/testdata/sf0.001"))
    assert "Python" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_bucketed_bitmap_plan_shape(spark):
    """q248 (the scale path for bitmap retention): the per-day arrays
    must aggregate on the COMPOSITE (day, bucket) key — day x bucket
    parallelism instead of one giant group per day — and the day-pair
    join must stay a real join (no cartesian)."""
    sf = "/root/testdata/sf0.001"
    p = _plan(QUERIES["q248_bitmap_retention_bucketed"](spark, sf))
    # the distinct-users aggregation carries both keys
    assert "pmod" in p or "%" in p  # the bucket expression reaches the plan
    assert "CartesianProduct" not in p
    # final day rollup sums per-bucket cardinalities
    assert "sum" in p


def test_timeseries_grid_plan_shape(spark):
    """q250: the PromQL grid family must stay ONE aggregation pass
    (collect_list per event_type) — no join, no window shuffle per
    grid point — with the scan prefiltered to the grid span (pushed
    timestamp filters)."""
    sf = "/root/testdata/sf0.001"
    p = _plan(QUERIES["q250_timeseries_grid"](spark, sf))
    assert "collect_list" in p
    assert "PushedFilters" in p
    # one hash aggregate pair (partial+final) over event_type; the
    # grid math is projection-only — no extra exchanges beyond the
    # group-by + the final sort/explode
    import re
    assert "Join" not in p  # the grids never join back to the facts


def test_approx_ntile_plan_has_no_window(spark):
    """q253 / approx_ntile (VERDICT r9 #3): the scale-safe global-rank
    path must contain NO WindowExec — the exact-ntile hazard is the
    unpartitioned single-reducer sort — and no join: boundaries fold
    into the projection as literals."""
    from ed_clickhouse_spark.operators.windows import approx_ntile

    df = spark.range(0, 1000).select(
        (F.col("id") * 7919 % 1000).cast("double").alias("v")
    )
    out = approx_ntile(df, "v", 4)
    p = _plan(out)
    assert "Window" not in p
    assert "Join" not in p
    assert "filter(" in p or "size(" in p  # literal-boundary projection
    # bucket sizes are near-equal at accuracy 10000 over 1000 distinct
    sizes = {
        r["ntile"]: r["n"]
        for r in out.groupBy("ntile").agg(F.count("*").alias("n")).collect()
    }
    assert set(sizes) == {1, 2, 3, 4}
    assert max(sizes.values()) - min(sizes.values()) <= 2
    # descending flips the bucket order, not the sizes
    top = approx_ntile(df, "v", 4, descending=True).filter(
        F.col("ntile") == 1
    )
    assert top.agg(F.min("v")).collect()[0][0] >= 740.0


def test_q254_centroid_plan_shape(spark):
    """q254: centroid build must be the (label, dim) partial-avg
    groupBy (map-side combine — no vector arrays through the first
    exchange) and the member join must stay a real join feeding a
    projection-side distance fold: no cartesian, no window."""
    sf = "/root/testdata/sf0.001"
    p = _plan(QUERIES["q254_embedding_centroids"](spark, sf))
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "posexplode" in p or "Generate" in p
    assert "zip_with" in p  # the distance fold is projection-side


def test_q258_single_exchange_window_reuse(spark):
    """q258 (r11): the unordered ranking window and the grouped
    aggregation share ONE hash exchange on event_type — the all-peers
    ORDER BY 1 injection must not add a sort-heavy global window or a
    second shuffle, and the tuple/divide/clamp projections are
    expression-only (no join, no cartesian)."""
    from ed_clickhouse_spark.suite import QUERIES

    df = QUERIES["q258_dialect_probe_tails3"](
        spark, "/root/testdata/sf0.001"
    )
    p = _plan(df)
    # formatted explain names each node once in the tree ("Exchange
    # (4)") and once in the details ("(4) Exchange") — count tree ids
    assert p.count("Exchange (") == 1, p
    assert "CartesianProduct" not in p and "Join" not in p.replace(
        "JoinedRow", ""
    )
