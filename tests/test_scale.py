"""Scale-toolkit tests: each helper must change the physical plan the way
the 100 TB design requires, verified on the local corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lstore_spark.catalog import load_table
from lstore_spark import scale

# ~sf1 corpus (20k embeddings / 50k documents); regenerate with
# `python scripts/make_sfbig.py` if absent.
SFBIG = os.environ.get("SFBIG_DIR", "/tmp/sfbig")
needs_sfbig = pytest.mark.skipif(
    not os.path.exists(f"{SFBIG}/embeddings.parquet"),
    reason="sfbig corpus not materialized (run scripts/make_sfbig.py)")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cu = (load_table(spark, sf_dir, "customer")
          .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    plain = ev.join(cu, "user_id").select("event_id", "c_mktsegment")
    salted = scale.salted_join(ev, cu, "user_id").select("event_id", "c_mktsegment")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_deterministic(spark, sf_dir):
    """The documented guarantee is a DETERMINISTIC salt (retries and
    speculative tasks must agree).  Count equality across runs is a
    tautology — the inner-join multiset is salt-independent (review
    r11) — so the real assertion is on the plan: no nondeterministic
    expression (rand/uuid/monotonically_increasing) anywhere in the
    salted join's tree."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cu = (load_table(spark, sf_dir, "customer")
          .select(F.col("c_custkey").alias("user_id"), "c_acctbal"))
    joined = scale.salted_join(ev, cu, "user_id")
    a = joined.count()
    b = scale.salted_join(ev, cu, "user_id").count()
    assert a == b
    plan = joined._jdf.queryExecution().analyzed().toString()
    for nondet in ("rand(", "uuid(", "monotonically_increasing_id"):
        assert nondet not in plan, f"nondeterministic salt: {nondet}"
    assert "xxhash64" in plan, "deterministic hash salt missing from plan"


def test_partitioned_events_prune(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "part")
    scale.write_events_partitioned(ev, out)
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    pruned = back.filter(F.col("day") == "2024-01-05")
    plan = _plan(pruned)
    # Static partition pruning must reach the scan (segment-drop analog).
    assert "PartitionFilters: [isnotnull(day" in plan, plan[:800]
    expect = ev.filter(F.col("ts").cast("date") == "2024-01-05").count()
    assert pruned.count() == expect


def test_purge_before_drops_old_partitions(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "purge")
    scale.write_events_partitioned(ev, out)
    total = ev.count()
    pre_cutoff = ev.filter(F.col("ts").cast("date") < "2024-01-10").count()
    dropped = scale.purge_before(spark, out, "2024-01-10")
    assert dropped == 9  # 2024-01-01 .. 2024-01-09
    back = spark.read.parquet(out)
    assert back.count() == total - pre_cutoff
    assert back.filter(F.col("day") < "2024-01-10").count() == 0


def test_compact_store_preserves_a_days_rows(spark, sf_dir, tmp_path):
    """compact_store over the write_events_partitioned layout: one day's
    rows (every column) are identical before and after, and the day
    holds one file."""
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "compact")
    scale.write_events_partitioned(ev, out)
    day = "2024-01-05"
    before = spark.read.parquet(out).filter(
        F.col("day") == day).drop("day").collect()
    compacted, _plan = scale.compact_store(spark, out)
    part = os.path.join(compacted, f"day={day}")
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1
    after = spark.read.parquet(compacted).filter(
        F.col("day") == day).drop("day").collect()
    assert before and sorted(map(tuple, before)) == sorted(
        map(tuple, after))


def test_two_consumer_groups_independent_offsets(spark, sf_dir, tmp_path):
    """Message-queue semantics: two consumers (checkpoints) of the same
    log each see all data, with independent progress."""
    import shutil
    from lstore_spark.catalog import SCHEMAS, path_of

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    shutil.copy(path_of(sf_dir, "events"), log_dir / "seg1.parquet")

    def drain(group: str) -> int:
        out = str(tmp_path / f"sink_{group}")
        q = (spark.readStream.schema(SCHEMAS["events"])
             .parquet(str(log_dir) + "/*.parquet")
             .select("event_id")
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ckpt_{group}"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return spark.read.parquet(out).count()

    n_a = drain("a")
    # group b starts later — gets the full log independently
    n_b = drain("b")
    # both must see the WHOLE log, not merely the same subset (review
    # r11: n_a == n_b alone also passes when a source regression drops
    # the same rows for both groups)
    n_log = spark.read.parquet(str(log_dir) + "/*.parquet").count()
    assert n_a == n_b == n_log > 0


def test_global_row_number_matches_naive_window(spark, sf_dir):
    """review r11: the distributed rank (range exchange + in-partition
    ranks + broadcast offsets) must equal the naive single-task global
    window row-for-row, including nulls-last placement, and the big
    relation's Window node must be partitioned (no unpartitioned window
    over the input)."""
    from pyspark.sql import Window

    ev = (load_table(spark, sf_dir, "events").limit(5000)
          .select("event_id", "user_id",
                  F.nullif(F.col("value"), F.lit(0.0)).alias("v")))
    order = [F.col("v").asc_nulls_last(), F.col("event_id").asc()]
    got = scale.global_row_number(ev, order, alias="pos")
    want = ev.withColumn("pos", F.row_number().over(Window.orderBy(*order)))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    # r13 shape pin: the only full-data exchange is the range partition;
    # every hash exchange in the plan is the |partitions|-row offsets
    # aggregate on _pid (the old Window.partitionBy(_pid) form paid a
    # second full-data hashpartitioning exchange right after the range
    # exchange — plan-measured, removed by the monotonically_increasing_id
    # rewrite).
    plan = _plan(got)
    assert "rangepartitioning(" in plan
    import re
    hash_keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert hash_keys and all(k.startswith("_pid") for k in hash_keys), \
        f"unexpected full-data hash exchange: {hash_keys}"
    assert "monotonically_increasing_id" in plan


def test_bucket_layout_routes_q18_and_global_distinct(spark, sf_dir,
                                                     tmp_path):
    """VERDICT r10 #2 + r12 #6 pinned: when catalog.build_bucket_layout
    has published the orderkey layout, every order-grain key must
    compile onto it BY DEFAULT with zero orderkey exchanges —
    q_tpch_q18_large_orders' rollup+join chain, q_agg_global's
    exact-distinct branch, q_join_sort_merge's fact⋈fact merge, and
    q_tpch_q3_shipping's join+rollup chain — and return exactly the
    plain-parquet rows.  r13 breadth (VERDICT r12 #6): the q5/q8/q10
    fact pairs and exists_flag's distinct-key build route the same way.
    (q7 was UN-routed in r14: the 1000x scale ledger measured plain
    faster on every interleaved pair — its fact sides broadcast-reduce
    before the orderkey join; see scripts/scale_probe_r14.json.)"""
    from lstore_spark import catalog
    from lstore_spark.registry import QUERIES

    routed_keys = ["q_tpch_q18_large_orders", "q_agg_global",
                   "q_join_sort_merge", "q_tpch_q3_shipping",
                   "q_tpch_q5_local_supplier",
                   "q_tpch_q8_market_share", "q_tpch_q10_returns",
                   "q_join_exists_flag"]
    # Plain-parquet reference results: an empty scratch root hides any
    # layout published earlier in the session (q_source_bucketed_join
    # builds the orderkey layout), so routed_tables falls back.
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("LSTORE_SPARK_SCRATCH_ROOT", str(tmp_path))
        assert catalog.bucketed_table(spark, sf_dir, "lineitem") is None
        base = {k: sorted(map(tuple, QUERIES[k](spark, sf_dir).collect()))
                for k in routed_keys}

    dirs = catalog.build_bucket_layout(spark, sf_dir)
    for d in dirs.values():
        assert os.path.exists(os.path.join(d, "_SUCCESS")), d
    assert catalog.bucketed_table(spark, sf_dir, "lineitem") is not None

    for k in routed_keys:
        routed = QUERIES[k](spark, sf_dir)
        plan = _plan(routed)
        assert "Exchange hashpartitioning(l_orderkey" not in plan, \
            (k, plan[:1500])
        assert "Exchange hashpartitioning(o_orderkey" not in plan, \
            (k, plan[:1500])
        assert "Bucketed: true" in plan, f"{k} did not route onto the layout"
        assert sorted(map(tuple, routed.collect())) == base[k], k
    # the sorted buckets also erase the merge join's sorts
    assert "Sort [l_orderkey" not in _plan(QUERIES["q_join_sort_merge"](
        spark, sf_dir))


def test_save_as_table_only_in_the_bucket_layout_build():
    """catalog.build_bucket_layout is the package's one bucketed-table
    writer: ``saveAsTable`` appears nowhere else in lstore_spark (its
    external table is dropped once the files are staged)."""
    import ast

    import lstore_spark

    class Sites(ast.NodeVisitor):  # enclosing def chain per call
        def __init__(self, mod):
            self.stack, self.found = [mod], []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        def visit_Call(self, node):
            if (isinstance(node.func, ast.Attribute)
                    and node.func.attr == "saveAsTable"):
                self.found.append(".".join(self.stack))
            self.generic_visit(node)

    pkg = os.path.dirname(os.path.abspath(lstore_spark.__file__))
    found = []
    for root, _, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                sites = Sites(os.path.relpath(path, pkg)[:-3])
                with open(path) as fh:
                    sites.visit(ast.parse(fh.read()))
                found += sites.found
    assert found == ["catalog.build_bucket_layout.write"], found


def test_bucketed_join_second_call_builds_nothing(spark, sf_dir):
    """q_source_bucketed_join reads the published orderkey layout: once
    the first call has built it, a call runs no Spark job while the
    DataFrame is built, registers no managed table (its tables are the
    layout's external ``lstore_bkt_*`` registrations) and adds nothing
    to the warehouse dir."""
    from lstore_spark.registry import QUERIES

    key = "q_source_bucketed_join"
    QUERIES[key](spark, sf_dir)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:")

    def managed():
        return {t.name for t in spark.catalog.listTables()
                if t.tableType == "MANAGED"}

    def listing():
        return sorted(os.listdir(warehouse)) if os.path.isdir(warehouse) \
            else []

    managed_before, listing_before = managed(), listing()
    bus.waitUntilEmpty()
    sc.setLocalProperty("spark.jobGroup.id", "bkt_second_call")
    try:
        df = QUERIES[key](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("bkt_second_call")) \
        == []
    assert managed() == managed_before
    bkt = [t for t in spark.catalog.listTables() if "bkt" in t.name]
    assert bkt and all(t.tableType == "EXTERNAL" for t in bkt), bkt
    assert listing() == listing_before
    assert "lstore_bkt_lineitem_" in _plan(df)


def test_cust_bucket_layout_routes_custkey_grain(spark, sf_dir):
    """r13 breadth (VERDICT r12 #6): the custkey family
    (build_bucket_layout family="cust" — orders on o_custkey, customer
    on c_custkey) must serve the customer-grain keys BY DEFAULT:
    q13's per-custkey pre-aggregate and q22's buyers DISTINCT compile
    with zero custkey exchanges, and the broadcast-shaped joins
    (inner_hash, semi, anti) compile to co-located zero-exchange merges
    once the broadcast path is off — all returning exactly the
    plain-parquet rows."""
    from lstore_spark import catalog
    from lstore_spark.registry import QUERIES

    routed_keys = ["q_join_inner_hash", "q_join_left_semi",
                   "q_join_left_anti", "q_tpch_q13_custdist",
                   "q_tpch_q22_idle_rich"]
    base = {k: sorted(map(tuple, QUERIES[k](spark, sf_dir).collect()))
            for k in routed_keys}

    dirs = catalog.build_bucket_layout(spark, sf_dir, family="cust")
    for d in dirs.values():
        assert os.path.exists(os.path.join(d, "_SUCCESS")), d
    assert catalog.bucketed_table(spark, sf_dir, "customer",
                                  family="cust") is not None

    for k in routed_keys:
        routed = QUERIES[k](spark, sf_dir)
        plan = _plan(routed)
        assert "Exchange hashpartitioning(o_custkey" not in plan, \
            (k, plan[:1500])
        assert "Exchange hashpartitioning(c_custkey" not in plan, \
            (k, plan[:1500])
        assert sorted(map(tuple, routed.collect())) == base[k], k

    # The broadcast-shaped keys only show the layout's value when the
    # broadcast path is off (the 100 TB shape): the join must then be a
    # co-located zero-exchange merge, not a shuffled SMJ.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for k in routed_keys:
            routed = QUERIES[k](spark, sf_dir)
            # routed_tables→tune() re-applies the 64 MiB threshold while
            # the query is constructed; planning is lazy, so overriding
            # AFTER construction (before first plan access) is what
            # actually disables broadcast for this key's plan.
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = _plan(routed)
            assert "Exchange hashpartitioning(o_custkey" not in plan, \
                (k, plan[:1500])
            assert "Exchange hashpartitioning(c_custkey" not in plan, \
                (k, plan[:1500])
            assert "Bucketed: true" in plan, \
                f"{k} did not route onto the cust layout"
            assert sorted(map(tuple, routed.collect())) == base[k], k
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@needs_sfbig
def test_hyperplane_lsh_scale_recall_and_occupancy(spark):
    """VERDICT r1 #6: LSH sizing must hold at 20k vectors, not just the
    500-vector fixture.  Plant 200 near-duplicate copies (deterministic
    ±2% element perturbation → cos ≈ 0.999) into the sfbig embeddings,
    size the LSH from the formula at tau=0.9, and require:

    - recall ≥ 0.9 on the planted (orig, copy) pairs;
    - bucket occupancy near the target (the corpus-size-adaptive bits
      actually bound the buckets);
    - a sub-quadratic candidate set.
    """
    from lstore_spark.llm.similarity import (
        hyperplane_band_rows, hyperplane_lsh_params)

    em = (spark.read.parquet(f"{SFBIG}/embeddings.parquet")
          .select("vec_id", "embedding"))
    n = em.count()
    base = em.orderBy("vec_id").limit(200)
    planted = base.select(
        (F.col("vec_id") + 100_000_000).alias("vec_id"),
        F.expr("""
            transform(embedding, (x, i)
                -> CAST(x AS FLOAT)
                   * CAST(1.0 + 0.02 * (CAST(hash(vec_id, i) % 2 = 0
                                             AS DOUBLE) * 2 - 1) AS FLOAT))
        """).alias("embedding"))
    corpus = em.unionByName(planted).localCheckpoint()

    target_occ = 128
    bits, bands = hyperplane_lsh_params(n + 200, tau=0.9,
                                        target_recall=0.9,
                                        target_occupancy=target_occ)
    assert bits >= 7, "20k corpus must get more bucket bits than the 500-row fixture"

    rows = hyperplane_band_rows(corpus, "vec_id", "embedding", bits, bands)
    occ = (rows.groupBy("band", "bkt").count()
           .agg(F.avg("count").alias("avg"), F.max("count").alias("mx"))
           .collect()[0])
    assert occ["avg"] <= 8 * target_occ, f"avg bucket occupancy {occ['avg']}"

    a = rows.select(F.col("vec_id").alias("id_a"), "band", "bkt")
    b = rows.select(F.col("vec_id").alias("id_b"), "band", "bkt")
    cands = (a.join(b, ["band", "bkt"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    planted_caught = cands.filter(
        F.col("id_b") - F.col("id_a") == 100_000_000).count()
    recall = planted_caught / 200.0
    assert recall >= 0.9, f"planted-pair recall {recall:.2f}"
    n_cands = cands.count()
    assert n_cands < (n + 200) * 1000, f"candidate set too dense: {n_cands}"


@needs_sfbig
def test_minhash_lsh_scale_recall(spark):
    """MinHash banding sized by minhash_lsh_params must catch planted
    textual near-duplicates at 50k docs."""
    from lstore_spark.llm.dedup import lsh_candidate_pairs, minhash_signatures

    docs = (spark.read.parquet(f"{SFBIG}/documents.parquet")
            .select("doc_id", "text"))
    base = docs.orderBy("doc_id").limit(100)
    planted = base.select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended tail token")).alias("text"))
    corpus = docs.unionByName(planted).localCheckpoint()

    sig = minhash_signatures(corpus)
    pairs = lsh_candidate_pairs(sig)
    caught = pairs.filter(
        F.col("id_b") - F.col("id_a") == 100_000_000).count()
    assert caught >= 90, f"planted near-dup recall {caught}/100"


def test_compact_store_binpacks_and_preserves(spark, sf_dir, tmp_path):
    """compact_store (the OPTIMIZE-style whole-store rewrite) must collapse
    the many-small-appends state (8 writer tasks per day) to the planned
    per-day file counts in one job, without changing the data."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.col("ts").cast("date").alias("day"))
    store = str(tmp_path / "store")
    ev.repartition(8).write.mode("overwrite").partitionBy("day").parquet(store)

    def files_per_day(path):
        return {
            d: len([f for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")])
            for d in os.listdir(path) if d.startswith("day=")
        }

    before = files_per_day(store)
    assert before and all(n == 8 for n in before.values())
    out, plan = scale.compact_store(spark, store)
    after = files_per_day(out)
    assert set(after) == set(before)
    # sf0.01 partitions are far below 128 MiB: plan = 1 file per day, and
    # the salted rewrite must actually hit the plan
    assert all(plan[d.split("=", 1)[1]] == 1 for d in after)
    assert all(n == 1 for n in after.values())
    a = spark.read.parquet(store).select("event_id", "user_id")
    b = spark.read.parquet(out).select("event_id", "user_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_rfm_approx_cutpoints_match_ntile_within_boundary(spark, sf_dir):
    """The q_evt_rfm docstring's 10⁹-user scale path, executed: replace
    each exact NTILE(5) with approx_percentile cutpoints (broadcast 4
    values, bucket by comparison — no global sort) and assert every
    user's quintile differs from the exact score by at most 1 (the
    boundary-tie tolerance; interior assignments must agree)."""
    from pyspark.sql import functions as F

    from lstore_spark.registry import QUERIES

    exact = QUERIES["q_evt_rfm"](spark, sf_dir).localCheckpoint()
    cuts = exact.agg(*[
        F.expr(f"approx_percentile({c}, array(0.2, 0.4, 0.6, 0.8), 10000)")
        .alias(f"{c}_cuts") for c in ["frequency", "monetary"]])

    def bucket(col, cuts_col):
        # quintile = 1 + #cutpoints strictly below the value
        return (F.lit(1)
                + F.expr(f"size(filter({cuts_col}, c -> c < {col}))"))

    approx = (exact.crossJoin(F.broadcast(cuts))
              .select("user_id", "f_score", "m_score",
                      bucket("frequency", "frequency_cuts").alias("f_ap"),
                      bucket("monetary", "monetary_cuts").alias("m_ap")))
    bad = approx.filter(
        (F.abs(F.col("f_score") - F.col("f_ap")) > 1)
        | (F.abs(F.col("m_score") - F.col("m_ap")) > 1)).count()
    assert bad == 0
    # and the approx path must actually spread users across buckets
    n_f = approx.select("f_ap").distinct().count()
    assert n_f >= 4


def test_hll_sketch_partial_merge_equals_single_pass(spark, sf_dir):
    """Mergeable COUNT DISTINCT — the q_ts_rollup_merge pattern for the
    one aggregate plain partials can't re-aggregate: per-day DataSketches
    HLL sketches union-merged to a total must (a) give EXACTLY the same
    estimate as one single-pass sketch over all rows (same algorithm,
    same hashes — merge order cannot matter), and (b) land within 2% of
    the true distinct count.  At 100 TB this is how a daily rollup keeps
    a mergeable distinct-users column without ever rescanning history."""
    from pyspark.sql import functions as F

    from lstore_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("hll_events")
    merged = spark.sql("""
        SELECT hll_sketch_estimate(hll_union_agg(s)) AS est
        FROM (SELECT CAST(ts AS DATE) AS day,
                     hll_sketch_agg(user_id) AS s
              FROM hll_events GROUP BY 1)""").collect()[0]["est"]
    single = spark.sql(
        "SELECT hll_sketch_estimate(hll_sketch_agg(user_id)) AS est "
        "FROM hll_events").collect()[0]["est"]
    exact = ev.select("user_id").distinct().count()
    assert merged == single
    assert abs(merged - exact) / exact <= 0.02


import os as _os

import pytest as _pytest


@_pytest.mark.skipif(not _os.path.isdir("/tmp/sf100x"),
                     reason="100x fixture not built (scripts/make_sfbig.py)")
def test_ann_recall_floors_at_100x(spark):
    """VERDICT r6 #2: recall certified at the 100× fixture, not just
    ~sf1 — sublinear-but-wrong is the classic ANN failure at scale.
    Metric = exact-cosine quality ratio of each method's top-k vs the
    brute-force top-k (tie-robust on the replicated fixture, where the
    true neighbors are 99 exact twins per query; random candidates
    score ~0.0).  All four paths measured 1.0 at both 10× and 100×
    (scripts/ann_recall_100x.py, BASELINE.md r7); floor at 0.9."""
    from scripts.ann_recall_100x import compute_recalls

    got = compute_recalls(spark, "/tmp/sf100x")
    for method, q in got.items():
        assert q >= 0.9, f"{method}: quality ratio {q} below 0.9 at 100x"
    # harder certification when the near-twin fixture exists: true
    # neighbors are jittered (cos ~0.99), so hash-style shortcuts fail
    # and the lossy representations (BQ/PQ) score honestly below 1.0
    if _os.path.isdir("/tmp/sf100x_near"):
        near = compute_recalls(spark, "/tmp/sf100x_near")
        for method, q in near.items():
            assert q >= 0.9, f"{method}: {q} below 0.9 on near-twins"


@_pytest.mark.skipif(
    not (_os.path.isdir("/tmp/sf1000x")
         and _os.environ.get("LSTORE_SPARK_RUN_1000X")),
    reason="needs /tmp/sf1000x AND LSTORE_SPARK_RUN_1000X=1 (opt-in: "
           "~15 min — run alongside the big-SF sweeps, not the "
           "default suite)")
def test_ann_recall_floors_at_1000x(spark):
    """r10: the same quality-ratio floors certified one more decade up
    (2M vectors) — the ANN scale paths must stay sublinear AND right.
    Opt-in via LSTORE_SPARK_RUN_1000X; the r10 certification run is
    ledgered in BASELINE.md."""
    from scripts.ann_recall_100x import compute_recalls

    got = compute_recalls(spark, "/tmp/sf1000x")
    for method, q in got.items():
        assert q >= 0.9, f"{method}: quality ratio {q} below 0.9 at 1000x"


def test_cbo_statistics_drive_join_reorder(spark, sf_dir):
    """'Let Catalyst optimize' includes cost-based join reordering for
    ad-hoc SQL: with ANALYZE TABLE statistics and spark.sql.cbo on,
    a query WRITTEN fact-first (lineitem ⋈ orders ⋈ filtered customer)
    is re-planned to reduce the selective dimension side first — the
    optimizer's decision, not the author's.  Broadcast is disabled so
    the reorder (not broadcastability) is what's under test."""
    from lstore_spark.catalog import load_table

    confs = {"spark.sql.cbo.enabled": None,
             "spark.sql.cbo.joinReorder.enabled": None,
             "spark.sql.autoBroadcastJoinThreshold": None}
    for c in confs:
        confs[c] = spark.conf.get(c, None)
    try:
        for t in ["lineitem", "orders", "customer"]:
            load_table(spark, sf_dir, t).write.mode("overwrite") \
                .saveAsTable(f"cbo_{t}")
            spark.sql(f"ANALYZE TABLE cbo_{t} COMPUTE STATISTICS")
        q = """
        SELECT c_mktsegment, count(*) AS n
        FROM cbo_lineitem
        JOIN cbo_orders   ON l_orderkey = o_orderkey
        JOIN cbo_customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY c_mktsegment
        """

        def optimized(cbo: bool) -> str:
            spark.conf.set("spark.sql.cbo.enabled", str(cbo).lower())
            spark.conf.set("spark.sql.cbo.joinReorder.enabled",
                           str(cbo).lower())
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            return spark.sql(q)._jdf.queryExecution() \
                .optimizedPlan().toString()

        import re
        on = optimized(True)
        order = re.findall(r"cbo_\w+", on)
        # With stats the fact table must NOT be the first (deepest-left)
        # relation anymore: the selective dim side reduces first.
        assert order and order[0] != "cbo_lineitem", order[:6]
        # And the statistics really exist (rowCount propagated).
        cost = spark.sql("EXPLAIN COST " + q).collect()[0][0]
        assert "rowCount=" in cost
    finally:
        for t in ["lineitem", "orders", "customer"]:
            spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
        for c, v in confs.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_routed_tables_all_or_nothing(spark, sf_dir, tmp_path, monkeypatch):
    """review r13: a half-available bucket layout (one table published,
    the other missing/stale) must route NOTHING — a mixed bucketed/
    plain merge join silently reintroduces the orderkey exchange on one
    side while claiming the layout's zero-exchange contract."""
    from lstore_spark import catalog

    catalog.build_bucket_layout(spark, sf_dir)
    t = catalog.routed_tables(spark, sf_dir, "lineitem", "orders")
    for name, df in t.items():
        key = "l_orderkey" if name == "lineitem" else "o_orderkey"
        assert "Bucketed: true" in _plan(df.groupBy(key).count()), name
    # simulate a half-available layout: orders lookup degrades to None
    real = catalog.bucketed_table

    def half(spark_, sf_, table, **kw):
        return None if table == "orders" else real(spark_, sf_, table, **kw)

    monkeypatch.setattr(catalog, "bucketed_table", half)
    t2 = catalog.routed_tables(spark, sf_dir, "lineitem", "orders")
    for name, df in t2.items():
        assert "Bucketed: true" not in _plan(df.groupBy(
            "l_orderkey" if name == "lineitem" else "o_orderkey").count()), \
            f"{name} routed bucketed despite the missing orders layout"


def test_compact_store_honors_null_day_partition(spark, sf_dir, tmp_path):
    """review r13: NULL-ts rows land in day=__HIVE_DEFAULT_PARTITION__;
    the plan keys that name while the day column reads back NULL — the
    raw map lookup NULLed the salt and collapsed the whole NULL-day
    partition into one writer cell regardless of the planned count."""
    from lstore_spark.catalog import load_table

    ev = (load_table(spark, sf_dir, "events").limit(2000)
          .withColumn("ts", F.when(F.col("event_id") % 2 == 0,
                                   F.col("ts"))))  # half the rows NULL-day
    store = str(tmp_path / "nstore")
    scale.write_events_partitioned(ev, store)
    hive_null = "day=__HIVE_DEFAULT_PARTITION__"
    assert os.path.isdir(os.path.join(store, hive_null))
    out, plan = scale.compact_store(spark, store, target_bytes=48 << 10)
    assert "__HIVE_DEFAULT_PARTITION__" in plan
    want = plan["__HIVE_DEFAULT_PARTITION__"]
    assert want > 1, "fixture too small to exercise the multi-file plan"
    got = len([f for f in os.listdir(os.path.join(out, hive_null))
               if f.endswith(".parquet")])
    # every planned salt bucket that received rows becomes one file;
    # with rows >> buckets all buckets fill — the broken lookup wrote 1
    assert got == want, \
        f"NULL-day partition wrote {got} files, plan said {want}"
    # rows survive the rewrite exactly
    assert spark.read.parquet(out).count() == 2000
