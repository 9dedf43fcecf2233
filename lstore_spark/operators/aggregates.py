"""§2.4 Aggregations.

All float SUM/AVG go through exact-decimal accumulation (numerics.py) so
the value hash matches DuckDB bit-for-bit regardless of partial-aggregate
ordering.  Spark plans these as 2-phase hash aggregates (partial map-side
combine → shuffle by group key → final), which is the shape that scales:
the shuffle carries one row per (partition, group), not per input row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_documents, load_table
from ..llm.hashing import sql_md5_long
from ..numerics import (DEC, davg, dsum, dsum9, sql_davg, sql_dec2dbl,
                        sql_dsum, sql_dsum9)
from ..registry import query


@query(
    "q_agg_global",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       {sql_dsum('l_extendedprice', 'sum_price')},
       {sql_davg('l_quantity', 'avg_qty')},
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship
FROM lineitem
""",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregate: one partial row per partition, single
    final reduce — constant shuffle volume at any scale.

    The exact distinct-order count runs as its OWN distributed
    distinct-then-count branch, cross-joined (1×1) onto the plain
    global row: countDistinct inside a global aggregate plans the
    distinct's final pass into the SINGLE global-agg partition, which
    the 1000× probe caught 2× over linear (247 s — one task reducing
    150M distinct orderkeys).  The split form keeps the distinct a
    normal 32-partition hash aggregate and sends only count partials to
    the final row: 247 → 64 s.  (At 100 TB you'd reach for
    approx_count_distinct — q_agg_approx_distinct is that exhibit —
    but THIS key's contract is the exact count.)

    When the bucketed orderkey layout exists (catalog.build_bucket_layout
    — the one-time OPTIMIZE-style rewrite), the distinct branch reads it
    instead: the scan arrives pre-hash-partitioned on l_orderkey, so the
    distinct compiles with ZERO exchanges and its ~65 GB map-side spill
    at 1000× disappears (43.8 → 3.7-5.6 s measured, BASELINE.md
    "Round-10: the bucketed-layout answer for spill class 2, measured";
    VERDICT r10 #2).  Falls back to
    the plain-parquet two-phase distinct otherwise."""
    from ..catalog import bucketed_table

    li = load_table(spark, sf_dir, "lineitem")
    li_bkt = bucketed_table(spark, sf_dir, "lineitem")
    base = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_extendedprice"), "sum_price"),
        davg(F.col("l_quantity"), "avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
    nord = ((li_bkt if li_bkt is not None else li)
            .select("l_orderkey").distinct()
            .agg(F.count(F.lit(1)).alias("n_orders")))
    return base.crossJoin(nord).select(
        "n_rows", "n_orders", "sum_price", "avg_qty",
        "min_qty", "max_qty", "min_ship", "max_ship")


@query(
    "q_agg_groupby_hash",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_extendedprice', 'avg_price')},
       {sql_davg('l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_groupby_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: TPC-H-Q1-shaped pricing summary (SURVEY.md §7 Phase 1).

    groupBy on two low-cardinality keys + 8 aggregates; per-row products
    stay in IEEE double (bit-identical in any engine), accumulation is
    exact.  At 100 TB this is a pure map-side-combine pattern:
    6 groups × n_partitions rows shuffle.

    r14 (VERDICT r13 #6): the five exact-decimal accumulators run as
    long-scaled SPLIT sums (numerics.split_sums — value-identical by
    construction for the dsum input domain, reconstructed through exact
    DECIMAL(38,8) division, ANSI-loud past ~6e11 rows·1e5 magnitude).
    Interleaved A/B at sf0.1 (quiet window, 7 reps,
    scripts/ab_groupby_hash_r14.json): decimal 1.172 s median / 1.076
    min vs split 0.990 / 0.836; parity exceptAll 0 both ways and the
    oracle hash (which stays the certified decimal SQL) is green at all
    three SFs.  avg_* divide the SAME reconstructed sums by
    COUNT(col), exactly like davg.
    """
    from ..numerics import split_sums, split_value

    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            *split_sums(F.col("l_quantity"), "q"),
            *split_sums(F.col("l_extendedprice"), "p"),
            *split_sums(disc_price, "d"),
            *split_sums(charge, "c"),
            *split_sums(F.col("l_discount"), "ds"),
            F.count(F.col("l_quantity")).alias("_cq"),
            F.count(F.col("l_extendedprice")).alias("_cp"),
            F.count(F.col("l_discount")).alias("_cd"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g.select(
        "l_returnflag", "l_linestatus",
        split_value("q").alias("sum_qty"),
        split_value("p").alias("sum_base_price"),
        split_value("d").alias("sum_disc_price"),
        split_value("c").alias("sum_charge"),
        (split_value("q") / F.col("_cq")).alias("avg_qty"),
        (split_value("p") / F.col("_cp")).alias("avg_price"),
        (split_value("ds") / F.col("_cd")).alias("avg_disc"),
        "count_order",
    )


@query(
    "q_agg_count_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct: Spark expands to a 2-phase (partial distinct per
    partition, then final) — the scalable exact form."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_LC_M = 16384  # linear-counting bucket count (sketch hash space)
# '||', not concat(): DuckDB's concat() SKIPS NULL inputs (yielding
# 'lc:' for a NULL user and counting a phantom bucket) while Spark's
# NULL-propagates — '||' NULL-propagates in both engines, so NULL users
# drop from the sketch exactly like COUNT(DISTINCT user_id) drops them
# (review r11).
_LC_HASH = sql_md5_long("('lc:' || CAST(user_id AS {s}))", 8)


@query(
    "q_agg_approx_distinct",
    oracle=f"""
SELECT event_type,
       COUNT(DISTINCT {_LC_HASH.format(s='VARCHAR')} % {_LC_M}) AS sketch_buckets,
       CAST(ROUND(-{_LC_M} * LN(1.0 - LEAST(COUNT(DISTINCT {_LC_HASH.format(s='VARCHAR')} % {_LC_M}), {_LC_M - 1})
            / CAST({_LC_M} AS DOUBLE))) AS BIGINT) AS approx_users,
       COUNT(DISTINCT user_id) AS exact_users
FROM events GROUP BY event_type
""",
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct via a linear-counting sketch: hash each key
    into a fixed 16K-bucket space, count occupied buckets d, estimate
    n ≈ -m·ln(1-d/m).  Sketch state merges associatively (bucket-set
    union), so shuffle volume is O(groups × m bits) regardless of data
    size — same contract as HLL, which Spark's native
    ``approx_count_distinct`` provides at 100 TB (kept in pytest; this
    key uses the portable-hash sketch so the DuckDB oracle can verify
    the identical estimate hash-exactly, VERDICT r2 item 5).  d is
    clamped to m-1 in BOTH engines (ADVICE r4): at full saturation
    ln(0) would otherwise crash under ANSI mode instead of degrading
    deterministically to the sketch's max estimate."""
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(_LC_HASH.format(s="STRING")) % _LC_M
    d = F.countDistinct(h)
    d_c = F.least(d, F.lit(_LC_M - 1))
    est = F.round(-_LC_M * F.log(F.lit(1.0) - d_c / float(_LC_M)))
    return ev.groupBy("event_type").agg(
        d.alias("sketch_buckets"),
        est.cast("bigint").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@query(
    "q_agg_grouping_sets",
    oracle=f"""
SELECT c_mktsegment,
       c_nationkey,
       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
       CAST(GROUPING(c_nationkey) AS INT) AS g_nat,
       COUNT(*) AS n_cust,
       {sql_dsum('c_acctbal', 'sum_bal')}
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    cu.createOrReplaceTempView("q_gs_customer")
    # Spark-side decimal→double cast is correctly rounded natively (no
    # VARCHAR hop needed — that's a DuckDB-only workaround in sql_dsum).
    return spark.sql("""
        SELECT c_mktsegment,
               c_nationkey,
               CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
               CAST(GROUPING(c_nationkey) AS INT) AS g_nat,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS sum_bal
        FROM q_gs_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """)


@query(
    "q_agg_rollup",
    oracle=f"""
SELECT r_name,
       n_name,
       CAST(GROUPING(r_name) AS INT) AS g_r,
       CAST(GROUPING(n_name) AS INT) AS g_n,
       COUNT(*) AS n_cust,
       {sql_dsum('c_acctbal', 'sum_bal')}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region→nation rollup of customer balances; dims broadcast-joined."""
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    joined = cu.join(
        F.broadcast(na), cu.c_nationkey == na.n_nationkey
    ).join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_r"),
        F.grouping("n_name").cast("int").alias("g_n"),
        F.count(F.lit(1)).alias("n_cust"),
        dsum(F.col("c_acctbal"), "sum_bal"),
    )


@query(
    "q_agg_cube",
    oracle=f"""
SELECT o_orderstatus,
       o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_p,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return od.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_s"),
        F.grouping("o_orderpriority").cast("int").alias("g_p"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "sum_price"),
    )


@query(
    "q_agg_having",
    oracle=f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12
""",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return (
        od.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_price"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "q_agg_stats",
    oracle="""
SELECT event_type,
       ROUND(STDDEV_SAMP(value), 6) AS sd_value,
       ROUND(VAR_SAMP(value), 6) AS var_value,
       ROUND(CORR(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
       ROUND(COVAR_SAMP(value, CAST(user_id AS DOUBLE)), 6) AS covar_vu
FROM events GROUP BY event_type
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance/corr/covar (identical estimator definitions
    in Spark and DuckDB); rounded to 6dp — these accumulate in floating
    point and are the one family where last-ulp drift is unavoidable."""
    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        # nan->NULL: Spark's Pearson evaluates 0/0 = NaN on a
        # zero-variance group with n>=2 where DuckDB returns NULL
        # (review r11); ROUND keeps NaN, so null it explicitly
        F.round(F.when(~F.isnan(F.corr(F.col("value"), u)),
                       F.corr(F.col("value"), u)), 6).alias("corr_vu"),
        F.round(F.covar_samp(F.col("value"), u), 6).alias("covar_vu"),
    )


@query(
    "q_agg_collect",
    oracle="""
SELECT user_id,
       array_to_string(list(event_type ORDER BY event_type, event_id), ',') AS types_all,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_set
FROM events
WHERE user_id < 20
GROUP BY user_id
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set, order-stabilized with sort_array so the
    value hash is deterministic (SURVEY.md §5.2 discipline).

    The aggregates build true array<string> columns; the final projection
    joins them to CSV strings because the driver's canonicalizer (pandas
    ``sort_values`` over object columns) cannot hash ndarray cells
    (CORRECTNESS_r01 ``q_agg_collect`` TypeError)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("event_type")), ","
            ).alias("types_all"),
            F.array_join(
                F.sort_array(F.collect_set("event_type")), ","
            ).alias("types_set"),
        )
    )


@query(
    "q_agg_percentiles",
    oracle="""
SELECT o_orderpriority,
       ROUND(MEDIAN(o_totalprice), 4) AS med_price,
       ROUND(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p25,
       ROUND(PERCENTILE_CONT(0.90) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
""",
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    PERCENTILE_CONT).  percentile_approx is exercised in pytest only —
    its sketch is not hash-comparable."""
    od = load_table(spark, sf_dir, "orders")
    return od.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("med_price"),
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.90)"), 4).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_bool",
    oracle="""
SELECT event_type,
       BOOL_AND(value >= 0)       AS all_nonneg,
       BOOL_OR(value > 900)       AS any_high,
       COUNT(*) FILTER (WHERE value > 500) AS n_high,
       COUNT(*) AS n
FROM events GROUP BY event_type
""",
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) + conditional count.  count_if is
    the map-side-combinable form of COUNT(*) FILTER — one long per
    (partition, group) crosses the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 900).alias("any_high"),
        F.count_if(F.col("value") > 500).alias("n_high"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_mode",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       arg_max(event_type,
               lpad(CAST(cnt AS VARCHAR), 12, '0') || '|' || event_type)
         AS modal_type,
       MAX(cnt) AS modal_cnt
FROM c GROUP BY user_id
""",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value) per key.  Built-in
    `F.mode` is tie-nondeterministic, so both engines compute it as
    count-then-argmax with an explicit tie-break (greatest value wins) —
    two partial-combinable aggregates sharing the user_id shuffle, no
    window sort."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    # IF(... NULL): rows whose event_type is NULL get a NULL ordering
    # key, which max_by ignores — matching the oracle's arg_max, whose
    # '||'-built key NULL-propagates (review r11: a NULL-typed modal
    # group would otherwise win on Spark and lose on DuckDB)
    return c.groupBy("user_id").agg(
        F.expr("max_by(event_type, IF(event_type IS NULL, NULL, "
               "struct(cnt, event_type)))").alias("modal_type"),
        F.max("cnt").alias("modal_cnt"),
    )


@query(
    "q_agg_heavy_hitters",
    oracle="""
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents
),
cnt AS (
  SELECT token, COUNT(*) AS n_occurrences FROM tok GROUP BY token
),
tot AS (SELECT SUM(n_occurrences) AS t FROM cnt)
SELECT token, n_occurrences,
       ROUND(n_occurrences * 1.0 / t, 6) AS support
FROM cnt, tot
WHERE n_occurrences * 200 >= t
""",
)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: tokens whose corpus frequency is ≥ 0.5% of all
    token occurrences (support threshold as in frequent-item mining).
    The threshold compares integers (n·200 ≥ total) so no float
    boundary can flake between engines; support is reported as a
    rounded ratio of those exact integers.

    Scale: explode+count partial-combines map-side, so the shuffle
    carries one row per distinct token per task, not per occurrence;
    the one-row grand total broadcasts back over the (tiny) surviving
    set.  A true streaming sketch (Misra–Gries) would cap memory per
    task, but the exact two-phase form is already shuffle-bounded by
    vocabulary size."""
    # function-local: importing this module (e.g. in a Python worker)
    # must not import the llm.text key module
    from ..llm.text import _SPARK_TOKENS
    from ..registry import pin

    docs = load_documents(spark, sf_dir)
    # pin: cnt feeds BOTH the grand total and the final projection —
    # unpinned, Spark re-runs the scan+explode+shuffle once per branch
    # (no CSE across branches; the global_row_number lesson; review r13)
    cnt = pin(
        docs.select(F.explode(F.expr(_SPARK_TOKENS)).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    tot = cnt.agg(F.sum("n_occurrences").alias("t"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("n_occurrences") * 200 >= F.col("t"))
        .select("token", "n_occurrences",
                F.round(F.col("n_occurrences") * 1.0 / F.col("t"), 6)
                .alias("support"))
    )


_CMS_W = 4096          # buckets per depth row (power of two)
_CMS_SEEDS = (101, 102, 103, 104)   # depth = 4 independent hash rows


def cms_sketch(df: DataFrame, key: str) -> DataFrame:
    """ONE-row DataFrame holding a count-min sketch of ``df[key]`` as a
    flat DENSE array<long> (depth d at offset d·W — GetArrayItem O(1),
    never map<k,v>: element_at on a map is a linear scan).  Each depth
    row counts occurrences in pmod(xxhash64(key, seed), W) buckets; the
    (depth, bucket) aggregate partial-combines map-side, so the sketch
    costs one ≤ d·W-row shuffle regardless of input size — the same
    bounded-build argument as bloom_bitmap."""
    from ..scale import dense_array_agg
    w = _CMS_W
    pos = df.select(F.explode(F.array(*[
        F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(w))
        + F.lit(d * w)
        for d, s in enumerate(_CMS_SEEDS)])).alias("slot"))
    counts = pos.groupBy("slot").agg(F.count(F.lit(1)).alias("n"))
    return dense_array_agg(counts, "slot", "n",
                           len(_CMS_SEEDS) * w, "cms")


def cms_estimate(key: str) -> "F.Column":
    """Point-estimate expression over a broadcast ``cms`` column: the
    min across depth rows — an OVERestimate of the true count (counts
    only ever add), which is exactly the property the prune below needs
    (candidates are a superset; no heavy hitter can be missed)."""
    w = _CMS_W
    terms = ", ".join(
        f"cms[CAST(pmod(xxhash64({key}, {s}), {w}) + {d * w} AS INT)]"
        for d, s in enumerate(_CMS_SEEDS))
    return F.expr(f"least({terms})")


@query(
    "q_agg_heavy_hitters_cms",
    oracle="""
WITH c AS (
  SELECT user_id, COUNT(*) AS n_events FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
t AS (SELECT SUM(n_events) AS total, COUNT(*) AS users FROM c)
SELECT user_id, n_events
FROM c, t
WHERE n_events * users * 100 >= 115 * total
""",
)
def q_agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by SKETCH PRUNING — the streaming-sketch scale
    path q_agg_heavy_hitters' docstring points at, done the way sketches
    are actually safe in an exact engine (the q_join_bloom_prune
    pattern): a count-min sketch over user_id (one bounded d·W-row
    shuffle + a ~128 KiB broadcast) filters the stream to users whose
    CMS estimate clears the threshold — a guaranteed SUPERSET of the
    true heavy hitters, since CMS only overestimates — and the exact
    groupBy then runs on the surviving rows only.  Answers stay exact
    (hash-grade vs the plain GROUP BY...HAVING oracle); the full-key
    shuffle at 100 TB shrinks to the candidates' rows.

    Threshold = 1.15× the mean per-user count, compared in pure int64
    (n·users·100 ≥ 115·total) so no float boundary can flake between
    engines.  The distinct-user count that defines the fixture's
    threshold is itself one distinct-shuffle — production callers pass
    an absolute threshold and skip it (see cms_sketch/cms_estimate).

    NULL user_ids are excluded up front in BOTH engines: COUNT(*) over
    groups counts a NULL group while count_distinct does not, so
    without the filter the int64 threshold itself would diverge on
    data with NULL keys (the q_ts_counter_rate latent-guard class)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()).select("user_id"))
    sketch = cms_sketch(ev, "user_id")
    totals = ev.agg(F.count(F.lit(1)).alias("total"),
                    F.count_distinct("user_id").alias("users"))
    cand = (ev.crossJoin(F.broadcast(sketch))
            .crossJoin(F.broadcast(totals))
            .filter(cms_estimate("user_id") * F.col("users") * 100
                    >= 115 * F.col("total")))
    return (cand.groupBy("user_id", "total", "users")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .filter(F.col("n_events") * F.col("users") * 100
                    >= 115 * F.col("total"))
            .select("user_id", "n_events"))


@query(
    "q_agg_quantile_sketch",
    oracle="""
WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi,
                  COUNT(value) AS n FROM events),
h AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE LEAST(CAST(FLOOR((value - lo) / (hi - lo) * 256) AS INT),
                         255) END AS bucket,
         COUNT(*) AS cnt
  FROM events, b WHERE value IS NOT NULL
  GROUP BY 1
),
c AS (
  SELECT bucket, cnt,
         SUM(cnt) OVER (ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM h
)
SELECT q, ROUND(lo + (bucket + 0.5) * (hi - lo) / 256.0, 6) AS est,
       n AS n_values
FROM c, b, (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
-- CAST AS DOUBLE: the literal list parses as DECIMAL(3,2), whose exact
-- q*n differs from Spark's double(0.9)*n at an exact-boundary cum
-- (review r11: cum == 900, n == 1000 selects different buckets)
WHERE cum >= q * n AND cum - cnt < q * n
""",
)
def q_agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation by fixed-width histogram sketch — the
    mergeable-summary scale path next to the exact q_agg_percentiles:
    one pass builds 256 integer bucket counts (map-side combined, the
    shuffle is ≤256 rows regardless of input size), and any quantile
    reads off the cumulative histogram with mid-bucket interpolation.
    Unlike t-digest/GK the sketch is DETERMINISTIC and portable, so the
    estimate itself is hash-checkable cross-engine; accuracy is bounded
    by the bucket width (≤ range/512 mid-bucket error — asserted vs the
    exact percentile in tests).  At 100 TB: histogram merging is
    associative (the partial agg IS the merge), the bounds scan and the
    bucket scan are two passes, and the final quantile step touches 256
    rows — no full sort, no full shuffle, which is the entire point
    versus exact percentile_approx-style machinery."""
    from ..registry import pin

    ev = load_table(spark, sf_dir, "events")
    # pin: bounds is cross-joined into BOTH the bucketing branch and the
    # final projection — unpinned it re-runs the full min/max/count scan
    # per branch (review r13)
    bounds = pin(
        ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"),
               F.count("value").alias("n")))
    hist = (
        ev.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(F.when(F.col("hi") == F.col("lo"), F.lit(0))
                .otherwise(F.least(
                    F.floor((F.col("value") - F.col("lo"))
                            / (F.col("hi") - F.col("lo")) * 256).cast("int"),
                    F.lit(255))).alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bucket", "cnt", F.sum("cnt").over(w).alias("cum"))
    qs = F.explode(F.array(*[F.lit(x) for x in (0.5, 0.9, 0.99)])).alias("q")
    return (
        cum.crossJoin(F.broadcast(bounds))
        .select("bucket", "cnt", "cum", "lo", "hi", "n", qs)
        .filter((F.col("cum") >= F.col("q") * F.col("n"))
                & (F.col("cum") - F.col("cnt") < F.col("q") * F.col("n")))
        .select("q",
                F.round(F.col("lo") + (F.col("bucket") + 0.5)
                        * (F.col("hi") - F.col("lo")) / 256.0, 6).alias("est"),
                F.col("n").alias("n_values"))
    )


@query(
    "q_agg_corr_moments",
    oracle=f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum('l_quantity', 'sq')},
         {sql_dsum('l_extendedprice', 'sp')},
         {sql_dsum('l_discount', 'sd')},
         {sql_dsum('l_quantity * l_quantity', 'sqq')},
         {sql_dsum('l_extendedprice * l_extendedprice', 'spp')},
         {sql_dsum('l_discount * l_discount', 'sdd')},
         {sql_dsum('l_quantity * l_extendedprice', 'sqp')},
         {sql_dsum('l_quantity * l_discount', 'sqd')},
         {sql_dsum('l_extendedprice * l_discount', 'spd')}
  FROM lineitem
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sqp - sq * sp)
             / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6)
         AS r_qty_price,
       ROUND((n * sqd - sq * sd)
             / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
         AS r_qty_disc,
       ROUND((n * spd - sp * sd)
             / (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)), 6)
         AS r_price_disc
FROM m
""",
)
def q_agg_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over (quantity, price,
    discount) from MERGEABLE MOMENTS — one map-side-combined pass
    collects the 9 sufficient statistics (Σx, Σx², Σxy in exact
    decimal), and every r falls out driver-free from the one-row
    aggregate.  Never the built-in corr(): its incremental-update
    algorithm and summation order differ per engine in the last ulps;
    moments are order-independent, and both engines then run the
    IDENTICAL closed-form double arithmetic (same cancellation, same
    rounding), so the matrix is hash-grade.

    Scale: |measures|² moments in ONE pass — the classic single-scan
    profile-statistics shape; 100 TB costs one traversal no matter how
    many measure pairs are requested."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q, "sq"), dsum(p, "sp"), dsum(d, "sd"),
        dsum(q * q, "sqq"), dsum(p * p, "spp"), dsum(d * d, "sdd"),
        dsum(q * p, "sqp"), dsum(q * d, "sqd"), dsum(p * d, "spd"))

    def r(sxy, sx, sy, sxx, syy, alias):
        n = F.col("n")
        num = n * F.col(sxy) - F.col(sx) * F.col(sy)
        den = (F.sqrt(n * F.col(sxx) - F.col(sx) * F.col(sx))
               * F.sqrt(n * F.col(syy) - F.col(sy) * F.col(sy)))
        return F.round(num / den, 6).alias(alias)

    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        r("sqp", "sq", "sp", "sqq", "spp", "r_qty_price"),
        r("sqd", "sq", "sd", "sqq", "sdd", "r_qty_disc"),
        r("spd", "sp", "sd", "spp", "sdd", "r_price_disc"))


@query(
    "q_agg_entropy_mi",
    oracle=f"""
WITH cells AS (
  SELECT event_type AS x,
         CAST(floor(abs(value)) AS BIGINT) % 4 AS y,
         COUNT(*) AS nxy
  FROM events GROUP BY 1, 2
), dressed AS (
  SELECT x, y, nxy,
         SUM(nxy) OVER (PARTITION BY x) AS nx,
         SUM(nxy) OVER (PARTITION BY y) AS ny,
         SUM(nxy) OVER () AS n
  FROM cells
)
SELECT
  CAST(MAX(n) AS BIGINT) AS n_rows,
  ROUND(log2(CAST(MAX(n) AS DOUBLE))
        - {sql_dsum9('nxy * log2(nx)')} / MAX(n), 6) AS h_type,
  ROUND(log2(CAST(MAX(n) AS DOUBLE))
        - {sql_dsum9('nxy * log2(ny)')} / MAX(n), 6) AS h_bucket,
  ROUND({sql_dsum9('nxy * log2(CAST(nxy AS DOUBLE) * n '
                   '/ (CAST(nx AS DOUBLE) * ny))')}
          / MAX(n), 6) AS mi_bits
FROM dressed
""",
)
def q_agg_entropy_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropies and mutual information between event_type and a
    derived value bucket — the label-balance / feature-leakage
    diagnostic run before training.  Everything reduces to per-CELL
    terms on the |X|·|Y| contingency table: H(X) = log₂n − Σ nxy·log₂nx
    / n (the Σ-over-cells identity Σ nxy·log₂nx = Σ nx·log₂nx avoids a
    second aggregate), MI = Σ (nxy/n)·log₂(nxy·n / nx·ny).  Every log
    argument derives from integer counts; each float term is rounded to
    1e-9 then summed EXACTLY as decimal so the cross-engine hash can't
    flake on summation order.  Scale: one shuffle to the tiny
    contingency table, windows over ≤|X|·|Y| rows, single-row output."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.col("event_type").alias("x"),
            (F.floor(F.abs("value")).cast("bigint") % 4).alias("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
    )
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wall = Window.partitionBy()
    d = cells.select(
        "nxy",
        F.sum("nxy").over(wx).alias("nx"),
        F.sum("nxy").over(wy).alias("ny"),
        F.sum("nxy").over(wall).alias("n"),
    )
    log2n = F.log2(F.max("n").cast("double"))
    mi_arg = (F.col("nxy").cast("double") * F.col("n")
              / (F.col("nx").cast("double") * F.col("ny")))
    return d.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.round(log2n - dsum9(F.col("nxy") * F.log2("nx")) / F.max("n"), 6)
         .alias("h_type"),
        F.round(log2n - dsum9(F.col("nxy") * F.log2("ny")) / F.max("n"), 6)
         .alias("h_bucket"),
        F.round(dsum9(F.col("nxy") * F.log2(mi_arg)) / F.max("n"), 6)
         .alias("mi_bits"),
    )


@query(
    "q_agg_approx_distinct_merge",
    oracle=f"""
SELECT event_type,
       COUNT(DISTINCT {_LC_HASH.format(s='VARCHAR')} % {_LC_M}) AS sketch_buckets,
       CAST(ROUND(-{_LC_M} * LN(1.0 - LEAST(COUNT(DISTINCT {_LC_HASH.format(s='VARCHAR')} % {_LC_M}), {_LC_M - 1})
            / CAST({_LC_M} AS DOUBLE))) AS BIGINT) AS approx_users
FROM events GROUP BY event_type
""",
)
def q_agg_approx_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY, made explicit: the linear-counting sketch of
    q_agg_approx_distinct is materialized per shard (4 hash shards
    standing in for the per-day/per-file sketches a pipeline persists),
    then merged by bucket-set union — and the oracle certifies the
    merged estimate equals the flat single-pass sketch EXACTLY (union
    of occupied-bucket sets is associative and lossless, unlike merging
    estimates).  Scale: each shard sketch is ≤ m bucket ids (~64 KB)
    regardless of row count — the whole point: daily sketches are tiny
    artifacts, and re-estimating all-time distincts never rescans
    history."""
    ev = load_table(spark, sf_dir, "events")
    h = F.expr(_LC_HASH.format(s="STRING")) % _LC_M
    shard = F.pmod(F.xxhash64(F.lit("shard"), F.col("event_id")), F.lit(4))
    per_shard = (
        ev.select("event_type", shard.alias("_shard"), h.alias("_b"))
        .groupBy("event_type", "_shard")
        .agg(F.collect_set("_b").alias("bkts"))
    )
    merged = (
        per_shard.groupBy("event_type")
        .agg(F.array_distinct(F.flatten(F.collect_list("bkts")))
             .alias("all_b"))
    )
    d = F.size("all_b")
    d_c = F.least(d, F.lit(_LC_M - 1))
    est = F.round(-_LC_M * F.log(F.lit(1.0) - d_c / float(_LC_M)))
    return merged.select(
        "event_type",
        d.cast("long").alias("sketch_buckets"),
        est.cast("bigint").alias("approx_users"),
    )


@query(
    "q_agg_weighted_avg",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       ROUND({sql_dec2dbl("SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,8)))")}
             / {sql_dec2dbl("SUM(CAST(l_quantity AS DECIMAL(30,8)))")},
             6) AS qty_weighted_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average (Σw·x / Σw) — the aggregate behind every
    importance-weighted estimate (cf. q_llm_sample_importance's
    inverse-propensity weights): quantity-weighted mean price per
    return flag.  Both sums accumulate in exact decimal; the single
    final double division + ROUND 6 is the only inexact step and is
    identical in both engines.  Never average pre-computed averages —
    the weighted form merges correctly across partitions by
    construction (the same mergeable-partials argument as
    q_mv_incremental_refresh)."""
    li = load_table(spark, sf_dir, "lineitem")
    wx = (F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)
    w = F.col("l_quantity").cast(DEC)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(wx).cast("double") / F.sum(w).cast("double"), 6)
         .alias("qty_weighted_price"),
    )
