"""Physical-plan regression tests: the plan *shapes* are the 100 TB
contract — a passing result with the wrong plan is a failure at scale.
(.explain discipline from the build brief, kept executable.)"""

from __future__ import annotations

import pytest

from lstore_spark.registry import QUERIES


def _plan(spark, sf_dir, key: str) -> str:
    df = QUERIES[key](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_filter_int_range")
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(value,100.0)" in p


def test_projection_prunes_scan_columns(spark, sf_dir):
    # ts reads as bigint (NANOS testdata via nanosAsLong) or
    # timestamp_ntz (MICROS testdata) — pruning must hold either way.
    p = _plan(spark, sf_dir, "q_project_prune")
    assert ("ReadSchema: struct<event_id:bigint,ts:bigint,value:double>" in p
            or "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,value:double>" in p)


@pytest.mark.parametrize("key", ["q_scan_tail_window", "q_topk_limit"])
def test_topk_compiles_to_take_ordered(spark, sf_dir, key):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, key)


@pytest.mark.parametrize("key", [
    "q_join_broadcast", "q_join_multiway_star", "q_subq_in"])
def test_dim_joins_broadcast(spark, sf_dir, key):
    assert "BroadcastHashJoin" in _plan(spark, sf_dir, key)


def test_merge_hint_gives_sort_merge(spark, sf_dir):
    assert "SortMergeJoin" in _plan(spark, sf_dir, "q_join_sort_merge")


@pytest.mark.parametrize("key", [
    "q_join_theta_range", "q_join_interval_range", "q_join_asof"])
def test_banded_nonequi_joins_avoid_nested_loop(spark, sf_dir, key):
    p = _plan(spark, sf_dir, key)
    # the banded rewrites must never degrade to a cartesian/nested loop.
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_asof_broadcast_agg_never_shuffles_orders(spark, sf_dir):
    """VERDICT r2 item 6: with the probe side bounded-small (event_id <
    2000), the as-of key uses the broadcast+max(struct) shape — orders
    is scanned once with no Exchange before the partial aggregate, and
    the match multiplication collapses map-side."""
    p = _plan(spark, sf_dir, "q_join_asof")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # orders never shuffles: the only hash exchange carries the ≤|events|
    # aggregate rows (partial → final) — no exchange of raw order rows.
    # (max over a struct is planned as SortAggregate, not HashAggregate.)
    assert "Aggregate" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_asof_timeline_is_union_window_no_join(spark, sf_dir):
    """VERDICT r1 item 3: the large×large as-of shape must be union +
    running last() — no join operator at all (no fact-table broadcast,
    no pre-dedup row multiplication), exactly one user_id shuffle."""
    from pyspark.sql import functions as F

    from lstore_spark.catalog import load_table
    from tests.reference_forms import asof_join_timeline
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 2000)
          .select("event_id", "user_id", "value", "ts"))
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate")
    df = asof_join_timeline(ev, od)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p
    assert "Union" in p and "Window" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_asof_shapes_agree(spark, sf_dir):
    from pyspark.sql import functions as F

    from lstore_spark.catalog import load_table
    from tests.reference_forms import asof_join_timeline
    from lstore_spark.registry import QUERIES
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 2000)
          .select("event_id", "user_id", "value", "ts"))
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate")
    a = sorted(map(tuple, QUERIES["q_join_asof"](spark, sf_dir).collect()))
    b = sorted(map(tuple, asof_join_timeline(ev, od).collect()))
    assert a == b


def test_cosine_topk_is_two_stage_no_window(spark, sf_dir):
    """VERDICT r1 #5: exact top-k must be the partial-topk-per-partition
    + merge shape, not a global per-query row_number window (which
    funnels the whole corpus's candidates into |queries| partitions)."""
    p = _plan(spark, sf_dir, "q_llm_sim_cosine_topk")
    assert "Window" not in p, p
    assert p.count("ObjectHashAggregate") >= 2 or p.count("SortAggregate") >= 2, p
    assert "Generate" in p  # posexplode of the merged top-k


def test_filtered_topk_predicate_reaches_scan(spark, sf_dir):
    """Filtered vector search must be PRE-filter: the metadata predicate
    prunes the corpus scan (PushedFilters) before any distance math, and
    the top-k keeps the two-stage no-window shape."""
    p = _plan(spark, sf_dir, "q_llm_sim_filtered_topk")
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters")[1].split("]]")[0]
    assert "In(label, [2,5,7]" in pushed, p
    assert "GreaterThanOrEqual(vec_id,10)" in pushed, p
    assert "Window" not in p, p


@pytest.mark.parametrize("key", [
    "q_llm_dedup_embcos", "q_llm_sim_threshold_pairs"])
def test_similarity_pairs_have_no_cross_join(spark, sf_dir, key):
    """VERDICT r1 #4: embedding pair candidates come from the LSH
    (band, bucket) equi-join, never an all-pairs cross join."""
    p = _plan(spark, sf_dir, key)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_groupby_is_two_phase(spark, sf_dir):
    p = _plan(spark, sf_dir, "q_agg_groupby_hash")
    assert p.count("HashAggregate") >= 2  # partial + final


def test_groupby_hash_split_sums_equal_decimal(spark, sf_dir):
    """r14 (VERDICT r13 #6): the long-scaled split accumulation the
    flagship aggregate ships must be value-identical to the certified
    decimal composition it replaced — the pin that guards the
    numerics.split_sums domain argument (<=6 true decimal digits per
    row) against future drift."""
    from lstore_spark.catalog import load_table
    from lstore_spark.numerics import davg, dsum
    from lstore_spark.registry import QUERIES
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    dec = (
        li.filter(F.col("l_shipdate")
                  <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity"), "sum_qty"),
             dsum(F.col("l_extendedprice"), "sum_base_price"),
             dsum(disc_price, "sum_disc_price"),
             dsum(charge, "sum_charge"),
             davg(F.col("l_quantity"), "avg_qty"),
             davg(F.col("l_extendedprice"), "avg_price"),
             davg(F.col("l_discount"), "avg_disc"),
             F.count(F.lit(1)).alias("count_order")))
    shipped = QUERIES["q_agg_groupby_hash"](spark, sf_dir)
    assert shipped.exceptAll(dec).count() == 0
    assert dec.exceptAll(shipped).count() == 0


def test_minhash_signatures_have_no_shuffle(spark, sf_dir):
    from lstore_spark.catalog import load_table
    from lstore_spark.llm.dedup import minhash_signatures
    sig = minhash_signatures(load_table(spark, sf_dir, "documents"))
    p = sig._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p  # pure projection over the scan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_latest_by_key_is_aggregate_not_window(spark, sf_dir):
    """Log-compaction read must be a partial-combinable aggregate (one
    narrow shuffle of per-key candidates), never a row_number window
    (full log shuffle + sort)."""
    p = _plan(spark, sf_dir, "q_scan_latest_by_key")
    assert "Window" not in p, p
    # max_by lowers to SortAggregate; the load-bearing property is the
    # map-side partial (each partition forwards one candidate per key).
    assert "partial_max_by" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_sessionize_single_shuffle(spark, sf_dir):
    """Gaps-and-islands sessionization: both windows and the final
    groupBy share the user_id partitioning — exactly one exchange."""
    p = _plan(spark, sf_dir, "q_evt_sessionize")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_ivf_topk_broadcasts_centroids_no_shuffle_join(spark, sf_dir):
    """IVF search: centroid routing and probe joins are broadcasts — the
    corpus must never hit a shuffle (sort-merge) join or cartesian."""
    p = _plan(spark, sf_dir, "q_llm_sim_ivf_topk")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" not in p, p


def test_contamination_broadcasts_eval_index(spark, sf_dir):
    """Decontamination: the eval shingle index broadcasts; the training
    corpus side must not shuffle into a sort-merge join."""
    p = _plan(spark, sf_dir, "q_llm_text_contamination")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_missing_ranges_window_is_blocked(spark, sf_dir):
    """q_ts_missing_ranges must not globally sort the corpus: the
    per-id window partitions by the 1024-id block, so only the tiny
    block summary flows through an un-partitioned (single-task)
    window."""
    p = _plan(spark, sf_dir, "q_ts_missing_ranges")
    assert "hashpartitioning(blk" in p, p


def test_salted_join_spreads_key(spark, sf_dir):
    """q_join_skew_salted joins on (user_id, _salt) — the hot key must
    not be the sole shuffle key."""
    p = _plan(spark, sf_dir, "q_join_skew_salted")
    assert "_salt" in p, p


def test_quality_constraints_single_event_scan(spark, sf_dir):
    """The three event-table expectation checks share one scan (stack
    over one aggregate row), so 'events.parquet' appears in exactly one
    scan node."""
    p = _plan(spark, sf_dir, "q_quality_constraints")
    import re
    scans = re.findall(r"Scan parquet[^\n]*events", p)
    assert len(scans) == 1, p


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    """q_source_partition_prune: the partition-column filter must appear
    as a PartitionFilters entry on the scan (directory pruning), not a
    post-scan data filter."""
    p = _plan(spark, sf_dir, "q_source_partition_prune")
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*event_type[^\]]* = purchase\)", p)
    assert m, p


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """q_source_bucketed_join: both sides read pre-bucketed on the join
    key — the sort-merge join must have NO Exchange on either input."""
    p = _plan(spark, sf_dir, "q_source_bucketed_join")
    assert "SortMergeJoin" in p, p
    join_part = p[p.index("SortMergeJoin"):]
    # the only exchange permitted is the post-join groupBy on priority
    assert "Exchange hashpartitioning(l_orderkey" not in join_part, p
    assert "Exchange hashpartitioning(o_orderkey" not in join_part, p
    assert "SelectedBucketsCount" in p, p


def test_rank_topn_gets_window_group_limit(spark, sf_dir):
    """q_win_rank_topn's rn<=3 filter must push into WindowGroupLimit
    (map-side per-group top-k pruning BEFORE the shuffle) — at 100 TB
    this forwards ≤k rows per (partition, key) instead of every row."""
    p = _plan(spark, sf_dir, "q_win_rank_topn")
    assert "WindowGroupLimit" in p, p


def test_reservoir_sample_is_take_ordered(spark, sf_dir):
    """Fixed-size hash-priority sampling must plan as TakeOrdered
    (per-partition bottom-k + driver merge), never a global Sort."""
    p = _plan(spark, sf_dir, "q_sample_reservoir")
    assert "TakeOrderedAndProject" in p, p


def test_pq_adc_corpus_never_exploded(spark, sf_dir):
    """r5 PQ-ADC rework: all sub-distances are row-local HOFs against ONE
    broadcast codebook row.  The only Generate (explode) in the plan is
    the tiny centroid-training branch; the corpus path must carry none —
    at 100 TB the old shape shuffled a 1024x-exploded corpus."""
    p = _plan(spark, sf_dir, "q_llm_emb_pq_adc")
    # The centroid-training branch (the only legitimate embedding explode)
    # is materialized once via localCheckpoint, so the final plan must
    # carry NO embedding explode at all — a corpus-side explode would
    # reintroduce the 1024x blowup.  (partitioned_topk's posexplode of
    # the 50 collected top-k arrays generates over _topk, not embedding.)
    assert p.count("Generate posexplode(embedding") == 0, p
    # No corpus-cardinality hash exchange: only centroid-agg partials and
    # the 50-row top-k shuffle remain.
    assert "SortMergeJoin" not in p, p


def test_compact_store_single_pass_plan(spark, sf_dir, tmp_path):
    """compact_store must rewrite the whole store in ONE salted shuffle:
    exactly one round-robin/hash repartition Exchange over the data, no
    per-partition driver loop (cost O(1) Spark jobs, not O(partitions))."""
    import os

    from pyspark.sql import functions as F

    from lstore_spark import scale
    from lstore_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.col("ts").cast("date").alias("day"))
    store = str(tmp_path / "store")
    ev.repartition(4).write.partitionBy("day").parquet(store)
    plan = scale.plan_compaction(store)
    pairs = [x for kv in plan.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    n_tgt = F.create_map(*pairs)[F.col("day").cast("string")]
    df = (spark.read.parquet(store)
          .withColumn("__salt", F.pmod(F.xxhash64("event_id"), n_tgt))
          .repartition(max(2 * sum(plan.values()), 1),
                       F.col("day"), F.col("__salt"))
          .drop("__salt"))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1, p


def test_stream_static_join_broadcasts_dim(spark, sf_dir):
    """The stream-static enrichment must broadcast the customer dim so
    the (unbounded) event side never shuffles for the join; the only
    Exchange in the plan belongs to the 5-group aggregate."""
    p = _plan(spark, sf_dir, "q_stream_static_join")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dedup_exact_single_exchange(spark, sf_dir):
    """Exact dedup is a 2-phase aggregate on 16-byte md5 keys: one
    partial (map-side) + one final agg around a single hash Exchange —
    the corpus shuffles only the compressed (hash, partial) rows."""
    p = _plan(spark, sf_dir, "q_llm_dedup_exact")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "partial_" in p, p  # map-side combine present


def test_tfidf_joins_broadcast_only(spark, sf_dir):
    """TF-IDF joins term DF stats to per-doc TF rows: the DF relation is
    vocabulary-sized (small), so it must broadcast — at 100 TB the
    doc-term side streams with no shuffle for the join."""
    p = _plan(spark, sf_dir, "q_llm_text_tfidf")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_stream_stream_join_is_equi_carried(spark, sf_dir):
    """The purchase↔view attribution join must ride its user_id equi key
    (hash/broadcast join with the time band as residual filter), never a
    cartesian or nested-loop product."""
    p = _plan(spark, sf_dir, "q_stream_stream_join")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_zorder_files_tight_on_both_dims(spark, sf_dir, tmp_path):
    """The z-order rewrite's layout contract: after clustering on the
    Morton key, a single-dimension predicate on EITHER column must be
    able to skip most files via footer min/max stats — the property a
    single-column sort cannot provide for the second column.  Asserted
    directly from the parquet footers (what row-group skipping reads)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lstore_spark.catalog import load_table
    from lstore_spark.sources.sinks import zorder_key

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.floor("value").cast("long").alias("vq"))
    out = str(tmp_path / "zorder")
    (ev.withColumn("_z", zorder_key("user_id", "vq"))
     .repartitionByRange(8, "_z").sortWithinPartitions("_z")
     .write.mode("overwrite").parquet(out))

    spans = []  # per file: (umin, umax, vmin, vmax)
    for f in sorted(glob.glob(out + "/*.parquet")):
        md = pq.read_metadata(f)
        stats = {"user_id": [], "vq": []}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema in stats:
                    stats[c.path_in_schema].append(
                        (c.statistics.min, c.statistics.max))
        spans.append((min(a for a, _ in stats["user_id"]),
                      max(b for _, b in stats["user_id"]),
                      min(a for a, _ in stats["vq"]),
                      max(b for _, b in stats["vq"])))
    assert len(spans) == 8

    # high-tail predicates on each dimension independently; a file is
    # skipped when its [min,max] interval misses the predicate range.
    # (Range boundaries come from sampling, so assert a conservative
    # floor, not the exact observed 6-7/8.)
    vq_skip = sum(1 for _, _, vmin, vmax in spans if vmax < 200 or vmin > 490)
    u_skip = sum(1 for umin, umax, _, _ in spans if umax < 140 or umin > 149)
    assert vq_skip >= 4, spans
    assert u_skip >= 4, spans


@pytest.mark.parametrize("key,max_exchanges", [
    ("q_ts_counter_rate", 1),    # window lag + running sum + final agg all
                                 # reuse the single user_id exchange
    ("q_llm_corpus_shard", 1),   # shard window is the only shuffle
    ("q_stream_dedup_near", 1),  # signature projection shuffles once
])
def test_round6_single_exchange_shapes(spark, sf_dir, key, max_exchanges):
    """Round-6 operators whose whole pipeline rides ONE keyed exchange:
    Catalyst must keep reusing the same partitioning across the window
    and the downstream aggregate — a second Exchange appearing here
    means a plan regression that 100×'s the shuffle volume."""
    p = _plan(spark, sf_dir, key)
    assert p.count("Exchange") <= max_exchanges, p
    assert "CartesianProduct" not in p


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    """q_source_dpp_join's fact scan must carry a dynamic-pruning
    subquery on the partition column — runtime directory pruning driven
    by the broadcast dim, not a full scan filtered above."""
    from lstore_spark.registry import QUERIES

    df = QUERIES["q_source_dpp_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


def test_tpch_q6_filters_reach_scan(spark, sf_dir):
    """Q6 is the scan-dominated query: all three predicate families
    (date range, discount band, quantity cap) must push to parquet."""
    p = _plan(spark, sf_dir, "q_tpch_q6_forecast")
    assert "PushedFilters: [" in p
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in p.split("PushedFilters")[1].split("]")[0], frag


def test_tpch_q13_keeps_outer_join(spark, sf_dir):
    """Q13's zero-order cohort exists only if the left outer join is
    not 'optimized' into an inner one by a null-intolerant predicate."""
    p = _plan(spark, sf_dir, "q_tpch_q13_custdist")
    assert "LeftOuter" in p


def test_tpch_q22_plans_anti_join(spark, sf_dir):
    """The NOT EXISTS must become an equi left-anti hash join (never a
    per-row subquery or nested-loop against full orders)."""
    p = _plan(spark, sf_dir, "q_tpch_q22_idle_rich")
    assert "LeftAnti" in p


def test_tpch_q8_star_broadcasts_all_dims(spark, sf_dir):
    """The widest star: every dimension must ride a broadcast — the
    only sort-merge/shuffle join permitted is lineitem⋈orders."""
    p = _plan(spark, sf_dir, "q_tpch_q8_market_share")
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoop") >= 4
    # fact-fact may be SMJ or (AQE at test scale) broadcast; what must
    # NOT appear is a shuffled join against any dimension:
    assert "CartesianProduct" not in p


@pytest.mark.parametrize("key,n_branches", [
    ("q_evt_active_users", 3),
    # r9: the c-partitioned rewrite reads pinned edges from 3 branches
    # (customer-degree hop, supplier degree, final rank aggregate).
    ("q_graph_rank_2hop", 3),
    ("q_mv_incremental_refresh", 2),
    ("q_evt_basket_lift", 4),
    # minhash signatures: both banding self-join sides and the roster
    ("q_llm_dedup_minhash", 3),
])
def test_multibranch_relations_compute_once(spark, sf_dir, key, n_branches):
    """The pinned multi-branch subplans (du / edges / enr) must appear as
    InMemoryTableScans in every branch — one computation feeding N
    readers — instead of N re-executions of the underlying scan+shuffle
    (Spark does no CSE across DataFrame branches; round-7 self-review)."""
    p = _plan(spark, sf_dir, key)
    assert p.count("InMemoryTableScan") >= n_branches, key


@pytest.mark.parametrize("key,actions", [
    ("q_llm_dedup_minhash", []),
    ("q_agg_heavy_hitters_cms", []),
    ("q_join_bloom_prune", []),
    # the routing closure needs the centroids on the driver
    ("q_llm_sim_ivf_topk", ["collect"]),
])
def test_build_runs_no_materialisation_job(spark, sf_dir, key, actions):
    """registry.pin's rule at build time: a pin is lazy and a single
    consumer is not materialised, so building the DataFrame runs no
    Spark job beyond an action the key itself needs."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def last_executions():  # the store keeps a bounded, id-ordered list
        n = store.executionsCount()
        tail = store.executionsList(max(0, n - 10), 10)
        return [tail.apply(i) for i in range(tail.size())]

    bus.waitUntilEmpty()
    before = max([e.executionId() for e in last_executions()], default=-1)
    sc.setLocalProperty("spark.jobGroup.id", key)
    try:
        QUERIES[key](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(key)
    execs = [e for e in last_executions() if e.executionId() > before]
    assert [e.description().split(" at ")[0] for e in execs] == actions
    assert sum(e.jobs().size() for e in execs) == len(jobs), jobs


def test_tfidf_scored_branch_prunes_scan(spark, sf_dir):
    """q_llm_text_tfidf dropped its tf pin in round 8 (bench regression
    + cache-leak ADVICE): instead of materializing the full (doc,term)
    relation, the scored branch's doc_id bound must push through the
    Aggregate to a pruned parquet scan — so the plan carries the bound
    as a pushed filter and NO cache, and only the df branch pays the
    full corpus explode."""
    p = _plan(spark, sf_dir, "q_llm_text_tfidf")
    assert "InMemoryTableScan" not in p
    assert "LessThan(doc_id,50)" in p


def test_ann_index_search_plan_is_pure_and_dpp_pruned(spark, sf_dir):
    """The stored-index search must contain ZERO training stages — the
    only embeddings scan is the query slice (pushed vec_id < 10
    filter) — and the probe relation must become a dynamic-partition-
    pruning subquery on the list_id-partitioned postings scan, so a
    search reads nprobe/n_lists of the index files (the whole point of
    the persisted layout at 100 TB)."""
    from lstore_spark.llm.ann_index import build_ann_index
    build_ann_index(spark, sf_dir)  # plan-shape test, index presumed built
    p = _plan(spark, sf_dir, "q_llm_index_search")
    assert "dynamicpruning" in p
    emb = [l for l in p.splitlines()
           if "FileScan" in l and "embeddings.parquet" in l]
    assert emb, "query-side embeddings scan missing"
    assert all("LessThan(vec_id,10)" in l for l in emb), \
        "an embeddings scan without the query-slice filter = training leak"


def test_range_frame_twin_matches_native_window(spark, sf_dir):
    """q_win_range_frame's bucket-merge twin must be ROW-identical to the
    native rangeBetween window it replaced (the naive form serializes
    into |statuses| tasks and rebuilds sliding frames per row — 116 s
    at 100×; the twin is all cumulative prefix/suffix windows over
    status×bucket partitions).  Pinned at sf0.01 AND sf0.1 so boundary
    rows — frames starting exactly at a bucket edge, ties at p and at
    p−10k — are exercised across ~170 buckets."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import os

    from lstore_spark.catalog import load_table
    from lstore_spark.registry import QUERIES

    big = "/root/testdata/sf0.1"
    dirs = [sf_dir] + ([big] if os.path.isdir(big) and big != sf_dir else [])
    for d in dirs:
        got = sorted(map(tuple, QUERIES["q_win_range_frame"](spark, d)
                         .collect()))
        od = load_table(spark, d, "orders")
        w = (Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
             .rangeBetween(-10000, Window.currentRow))
        want = sorted(map(tuple, od.select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            F.count(F.lit(1)).over(w).alias("n_within_10k"),
            F.min("o_totalprice").over(w).alias("min_within_10k"),
        ).collect()))
        assert got == want, f"twin diverges from native window at {d}"


def test_broadcast_gate_false_branches_match_oracle(spark, sf_dir, monkeypatch):
    """The four stats-gated queries must stay CORRECT on their shuffled
    fallback plans: at every pinned test scale fits_broadcast is True,
    so without this the gate-False branches (including Q14's join-order
    flip) would first execute mid-probe at 1000×.  Forcing the gate
    False and re-running oracle parity pins both sides."""
    import duckdb

    import lstore_spark.catalog as cat
    import lstore_spark.operators.analytics as analytics_mod
    import lstore_spark.operators.joins as joins_mod
    from lstore_spark.registry import ORACLE, QUERIES
    from tests.oracle_check import compare

    # operators/analytics.py and operators/joins.py bind fits_broadcast
    # by name at import time, so patching only the catalog module would
    # leave their gates live (ADVICE r10) — patch every consuming module
    # plus the catalog (llm/dedup.py imports inside the function body).
    calls = []

    def gate(*a, **k):
        calls.append(a)
        return False

    import lstore_spark.operators.mutations as mutations_mod

    monkeypatch.setattr(cat, "fits_broadcast", gate)
    monkeypatch.setattr(analytics_mod, "fits_broadcast", gate)
    monkeypatch.setattr(joins_mod, "fits_broadcast", gate)
    monkeypatch.setattr(mutations_mod, "fits_broadcast", gate)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for key in ["q_join_multiway_star", "q_tpch_q5_local_supplier",
                "q_tpch_q10_returns", "q_tpch_q14_promo",
                # review r10: the last three forced-broadcast sites
                # gained the same gate — pin their shuffled fallbacks
                "q_tpch_q7_volume", "q_tpch_q8_market_share",
                "q_mv_incremental_refresh",
                # review r11: five more ungated forced broadcasts found
                # and gated — pin their shuffled fallbacks too
                "q_tpch_q3_shipping", "q_tpch_q19_brand_bands",
                "q_evt_retention", "q_graph_rank_2hop",
                "q_join_broadcast"]:
        calls.clear()
        r = compare(key, QUERIES[key](spark, sf_dir), con, ORACLE[key])
        assert calls, f"{key} never consulted the patched gate — vacuous"
        assert r.ok, f"{key} wrong on the gate-False plan: {r.detail}"


def test_time_range_twin_matches_native_window(spark, sf_dir):
    """q_win_time_range's per-second bucket-merge twin (review r13) must
    be ROW-identical to the native rangeBetween(-3599, 0) window it
    replaced (the naive sliding frame rebuilds its buffer per row —
    O(rows × frame-rows), unbounded for dense users).  Pinned at sf0.01
    AND sf0.1 so hour-boundary frames, tie-second peers, and probe
    rows landing exactly on an actual second are all exercised."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import os

    from lstore_spark.catalog import load_table
    from lstore_spark.numerics import DEC
    from lstore_spark.registry import QUERIES

    big = "/root/testdata/sf0.1"
    dirs = [sf_dir] + ([big] if os.path.isdir(big) and big != sf_dir else [])
    for d in dirs:
        got = sorted(map(tuple, QUERIES["q_win_time_range"](spark, d)
                         .collect()))
        ev = load_table(spark, d, "events")
        t = F.expr("timestampdiff(SECOND, "
                   "to_timestamp_ntz('1970-01-01 00:00:00'), ts)")
        w = (Window.partitionBy("user_id").orderBy("t")
             .rangeBetween(-3599, Window.currentRow))
        want = sorted(map(tuple, ev
                          .select("event_id", "user_id", "value",
                                  t.alias("t"))
                          .select("event_id", "user_id",
                                  F.count(F.lit(1)).over(w).alias("n_1h"),
                                  F.sum(F.col("value").cast(DEC)).over(w)
                                  .cast("double").alias("sum_1h"))
                          .collect()))
        assert got == want, f"twin diverges from native window at {d}"


# Keys allowed to evaluate one Python UDF in two Python-eval nodes.  All
# three find candidates with hyperplane_candidate_pairs, whose (band,
# bkt) self-join evaluates band_buckets once per side; sharing one
# evaluation needs pinning or exchange reuse, a design trade-off rather
# than a pushed-down filter.
_SELF_JOIN_UDF_REPEATS = {"q_llm_sim_lsh_topk", "q_llm_sim_threshold_pairs",
                          "q_llm_dedup_embcos"}
# Corpus-wide pandas UDFs behind a filter on their own output (an
# isNotNull, or the isnotnull a join key infers): evaluate_once keeps
# Catalyst from evaluating them a second time under the filter.
_CORPUS_UDF_KEYS = ["q_llm_emb_pq_adc", "q_llm_emb_pq_encode",
                    "q_llm_sim_ivf_topk"]


def test_repeated_udfs_counts_one_cached_relation_once():
    """A pinned relation prints its plan under every scan of it but
    evaluates its UDF once; two unpinned branches evaluate it twice."""
    from scripts.plan_audit import python_evals, repeated_udfs

    cached = """\
   +- InMemoryRelation [doc_id#0L, s#11], StorageLevel(disk, memory, 1 replicas)
         +- *(2) Project [doc_id#0L, pythonUDF0#15 AS s#11]
            +- ArrowEvalPython [sig(text#1)#9], [pythonUDF0#15], 200
               +- FileScan parquet [doc_id#0L,text#1]"""
    pinned = "\n".join([
        "SortMergeJoin [doc_id#0L], [doc_id#40L], Inner",
        ":- InMemoryTableScan [doc_id#0L, s#11]", cached,
        "+- InMemoryTableScan [doc_id#40L, s#41]", cached])
    assert python_evals(pinned) == [["sig(text)"]]
    assert repeated_udfs(pinned) == set()

    unpinned = "\n".join([
        "SortMergeJoin [doc_id#0L], [doc_id#40L], Inner",
        ":- ArrowEvalPython [sig(text#1)#9], [pythonUDF0#15], 200",
        ":  +- FileScan parquet [doc_id#0L,text#1]",
        "+- ArrowEvalPython [sig(text#42)#9], [pythonUDF0#44], 200",
        "   +- FileScan parquet [doc_id#40L,text#42]"])
    assert python_evals(unpinned) == [["sig(text)"], ["sig(text)"]]
    assert repeated_udfs(unpinned) == {"sig(text)"}


def test_no_key_evaluates_a_python_udf_twice(spark, sf_dir):
    """Across every registered key, the same Python UDF over the same
    input columns sits in at most one Python-eval node — each extra node
    is another pass of the rows through Python workers."""
    from scripts.plan_audit import repeated_udfs

    repeats = {}
    for key in sorted(QUERIES):
        rep = repeated_udfs(_plan(spark, sf_dir, key))
        if rep:
            repeats[key] = rep
    assert set(repeats) == _SELF_JOIN_UDF_REPEATS, repeats
    for key, rep in repeats.items():
        assert rep == {"band_buckets(embedding)"}, (key, rep)


@pytest.mark.parametrize("key", _CORPUS_UDF_KEYS)
def test_corpus_udf_in_one_python_eval_node(spark, sf_dir, key):
    from scripts.plan_audit import python_evals

    nodes = python_evals(_plan(spark, sf_dir, key))
    assert len(nodes) == 1 and len(nodes[0]) == 1, nodes


@pytest.mark.parametrize("key", ["q_llm_emb_pq_adc", "q_llm_emb_pq_encode"])
def test_pq_udf_runs_above_spread_exchange(spark, sf_dir, key):
    """_spread widens the single-split fixture scan with a round-robin
    exchange; the encode UDF must run above it, at session parallelism,
    not at the scan's split width below it."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one-core session: _spread adds no exchange")
    lines = _plan(spark, sf_dir, key).splitlines()
    udf = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    rr = [i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln]
    assert len(udf) == 1 and len(rr) == 1, lines
    depth = [len(ln) - len(ln.lstrip(" :|+-")) for ln in lines]
    assert udf[0] < rr[0] and depth[udf[0]] < depth[rr[0]], "\n".join(lines)


def test_pq_adc_lut_is_jvm_local(spark, sf_dir):
    """The query LUT is a literal inlined over a one-row Range: no
    pickled Python RDD (Scan ExistingRDD), whose broadcast job would run
    Python tasks and grow the worker pool."""
    p = _plan(spark, sf_dir, "q_llm_emb_pq_adc")
    assert "Scan ExistingRDD" not in p, p
    assert "Generate inline(" in p and "Range (0, 1" in p, p
