"""§2.3 Joins.

The reference has no joins (single-log store) — these are capability-parity
operators for the analytics engine (SURVEY.md §2.3).  Join-strategy notes
are per-query; the overarching 100 TB rules:

- dimension sides are wrapped in ``broadcast()`` (region/nation/customer/
  part stay tiny relative to facts at every SF),
- large-large joins shuffle on the equi key (sort-merge; AQE may convert
  to shuffled-hash or split skewed partitions at runtime),
- non-equi joins are *banded*: rewritten to an equi join on a coarse
  bucket key + an exact residual filter, so they scale as a hash join
  instead of a broadcast-nested-loop O(n·m) scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fits_broadcast, load_table
from ..numerics import dsum, sql_dsum
from ..registry import query
from ..scale import salted_join


@query(
    "q_join_inner_hash",
    oracle="""
SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 400000
""",
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer; Catalyst picks broadcast/SMJ by
    size, AQE re-plans at runtime.  When the custkey bucket layout
    exists (catalog.build_bucket_layout family="cust", VERDICT r12 #6)
    both scans arrive co-located on the join key, so the at-scale
    non-broadcast fallback compiles with zero custkey exchanges; plain
    parquet keeps the planner-chosen shuffled shape."""
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "orders", "customer", family="cust")
    od = t["orders"].filter(F.col("o_totalprice") > 400000)
    cu = t["customer"]
    return od.join(cu, od.o_custkey == cu.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


@query(
    "q_join_broadcast",
    oracle=f"""
SELECT p_brand, COUNT(*) AS n_items, {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10
GROUP BY p_brand
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with explicit broadcast: no shuffle of the 100 TB fact
    side; part (filtered, ~20% of an SF-SCALED table) ships to every
    executor once — under the footer-stat gate, like every other
    SF-scaled broadcast side in this file (review r11: this was the one
    left ungated); past the cap AQE's shuffled join takes over."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    if fits_broadcast(sf_dir, "part", 0.2):
        pa = F.broadcast(pa)
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"),
             dsum(F.col("l_extendedprice"), "sum_price"))
    )


@query(
    "q_join_sort_merge",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o_orderpriority
""",
)
def q_join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large⋈large with an explicit merge hint: both sides shuffle-sort on
    l_orderkey/o_orderkey.  At scale this is the join to co-locate via
    bucketing on orderkey so the exchange disappears entirely — and when
    the bucketed orderkey layout exists (catalog.build_bucket_layout,
    the one-time OPTIMIZE-style rewrite) BOTH fact scans read it by
    default, so the merge join compiles with zero orderkey exchanges
    AND zero sorts (the buckets are sorted on the key); plain parquet
    falls back to the shuffled plan (VERDICT r12 #6, extending the
    q18/agg_global routing)."""
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].hint("merge")
    od = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum(rev, "revenue"))
    )


@query(
    "q_join_left_outer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > 450000
WHERE c_custkey <= 200
""",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with a join-side predicate (kept customers get NULL order
    columns — the classic outer-join-vs-where distinction)."""
    cu = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    od = load_table(spark, sf_dir, "orders")
    cond = (cu.c_custkey == od.o_custkey) & (od.o_totalprice > 450000)
    return cu.join(od, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "q_join_full_outer",
    oracle="""
WITH a AS (SELECT user_id, COUNT(*) AS n_purch FROM events
           WHERE event_type = 'purchase' GROUP BY user_id),
     b AS (SELECT user_id, COUNT(*) AS n_err FROM events
           WHERE event_type = 'error' GROUP BY user_id)
SELECT COALESCE(a.user_id, b.user_id) AS user_id, a.n_purch, b.n_err
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
""",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = (ev.filter(F.col("event_type") == "purchase").groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n_purch"))
         .withColumnRenamed("user_id", "uid_a"))
    b = (ev.filter(F.col("event_type") == "error").groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n_err"))
         .withColumnRenamed("user_id", "uid_b"))
    return a.join(b, a.uid_a == b.uid_b, "full").select(
        F.coalesce("uid_a", "uid_b").alias("user_id"), "n_purch", "n_err")


@query(
    "q_join_left_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 420000)
""",
)
def q_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join ≡ EXISTS: probe side streams, no row multiplication.
    Custkey-bucket-routed like q_join_inner_hash (VERDICT r12 #6)."""
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "orders", "customer", family="cust")
    cu = t["customer"]
    od = t["orders"].filter(F.col("o_totalprice") > 420000)
    return cu.join(od, cu.c_custkey == od.o_custkey, "left_semi").select(
        "c_custkey", "c_name")


@query(
    "q_join_left_anti",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
)
def q_join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join ≡ NOT EXISTS: customers with no big-ticket order (every
    customer has *some* order in the fixture, so the anti side filters).
    Custkey-bucket-routed like q_join_inner_hash (VERDICT r12 #6)."""
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "orders", "customer", family="cust")
    cu = t["customer"]
    od = t["orders"].filter(F.col("o_totalprice") > 400000)
    return cu.join(od, cu.c_custkey == od.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment")


@query(
    "q_join_cross_nl",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def q_join_cross_nl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny dims (5×25); broadcast nested loop.  Safe only
    because both sides are bounded — the engine never cross-joins facts."""
    re = load_table(spark, sf_dir, "region")
    na = load_table(spark, sf_dir, "nation")
    return re.crossJoin(F.broadcast(na)).select("r_name", "n_name")


_BAND = 0.05  # theta-join band width on events.value


@query(
    "q_join_theta_range",
    # The oracle uses the same band-bucket rewrite (parity by
    # construction): a plain `abs(a.value-b.value) < eps` join condition
    # denies DuckDB a hash join too, and its fallback nested loop is
    # O(n²) — it stalled the ~sf1 sweep at 200k×200k purchase pairs.
    # The exact residual predicate stays explicit, so the bucketing is
    # an implementation detail in BOTH engines.
    oracle=f"""
WITH e AS (
  SELECT event_id, value,
         CAST(floor(value / {_BAND}) AS BIGINT) AS bkt
  FROM events WHERE event_type = 'purchase'
),
a AS (
  SELECT event_id, value, unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM e
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       a.value AS value_a, b.value AS value_b
FROM a JOIN e b
  ON a.bkt = b.bkt
 AND a.event_id < b.event_id
 AND abs(a.value - b.value) < {_BAND}
""",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta self-join |a.value − b.value| < ε, rewritten as a *banded equi
    join*: each row joins on floor(value/ε) and its neighbor buckets, then
    the exact predicate filters residuals.  Turns an O(n²) nested loop into
    a hash join on ~2n keys — the form that survives 100 TB.
    """
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type") == "purchase")
          .select("event_id", "value"))
    bucket = F.floor(F.col("value") / _BAND)
    a = ev.select(
        F.col("event_id").alias("id_a"), F.col("value").alias("value_a"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bkt"))
    b = ev.select(
        F.col("event_id").alias("id_b"), F.col("value").alias("value_b"),
        bucket.alias("bkt"))
    return (
        a.join(b, "bkt")
        .filter((F.col("id_a") < F.col("id_b"))
                & (F.abs(F.col("value_a") - F.col("value_b")) < _BAND))
        .select("id_a", "id_b", "value_a", "value_b")
    )


@query(
    "q_join_interval_range",
    oracle="""
SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
       CAST(a.o_orderdate AS DATE) AS date_a, CAST(b.o_orderdate AS DATE) AS date_b
FROM orders a JOIN orders b
  ON b.o_orderdate >= a.o_orderdate
 AND b.o_orderdate < a.o_orderdate + INTERVAL 2 DAY
 AND a.o_orderkey <> b.o_orderkey
WHERE a.o_orderpriority = '1-URGENT' AND a.o_orderkey <= 3000
""",
)
def q_join_interval_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (b within [a, a+2d)), banded on epoch-day buckets:
    a-side explodes to the 3 candidate day buckets (a 2-day window
    starting mid-day can span 3 calendar days), equi-join, exact residual
    filter — same scale story as q_join_theta_range (DuckDB's IEJoin does
    this natively; Spark needs the rewrite to avoid BNLJ)."""
    od = load_table(spark, sf_dir, "orders")
    a = od.filter((F.col("o_orderpriority") == "1-URGENT")
                  & (F.col("o_orderkey") <= 3000))
    day = lambda c: F.floor(F.unix_timestamp(F.col(c).cast("timestamp")) / 86400)  # noqa: E731
    a = a.select(
        F.col("o_orderkey").alias("key_a"), F.col("o_orderdate").alias("date_a"),
        F.explode(F.array(day("o_orderdate"), day("o_orderdate") + 1,
                          day("o_orderdate") + 2)).alias("dbkt"))
    b = od.select(
        F.col("o_orderkey").alias("key_b"), F.col("o_orderdate").alias("date_b"),
        day("o_orderdate").alias("dbkt"))
    return (
        a.join(b, "dbkt")
        .filter((F.col("date_b") >= F.col("date_a"))
                & (F.col("date_b") < F.col("date_a") + F.expr("INTERVAL 2 DAY"))
                & (F.col("key_a") != F.col("key_b")))
        .select("key_a", "key_b",
                F.col("date_a").cast("date").alias("date_a"),
                F.col("date_b").cast("date").alias("date_b"))
    )


def asof_join_broadcast_agg(ev: DataFrame, od: DataFrame) -> DataFrame:
    """Small-probe as-of shape: broadcast the (small) event side into an
    inner range join against orders, immediately collapse the match
    multiplication with ``max(struct(date, key))`` per event — the
    partial hash aggregate combines map-side, so multiplied rows stream
    through codegen and never cross a shuffle — then left-join the tiny
    per-event result back to preserve match-less events.  Orders is
    scanned once with NO shuffle and NO sort; the only exchange carries
    ≤ |events| rows.  At 1000 executors this is the winning plan whenever
    the probe side fits the broadcast threshold (here it is bounded by
    the query's own ``event_id < 2000`` predicate)."""
    matched = (
        od.join(
            F.broadcast(ev.select("event_id", "user_id", "ts")),
            (od["o_custkey"] == F.col("user_id"))
            & (od["o_orderdate"] <= F.col("ts")),
            "inner")
        .groupBy("event_id")
        .agg(F.max(F.struct("o_orderdate", "o_orderkey")).alias("best"))
    )
    return (
        ev.join(F.broadcast(matched), "event_id", "left")
        .select(
            "event_id", "user_id", "value",
            F.col("best.o_orderkey").alias("o_orderkey"),
            F.col("best.o_orderdate").cast("date").alias("asof_date"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
WITH matched AS (
  SELECT e.event_id, e.user_id, e.value,
         o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
  WHERE e.event_id < 2000
)
SELECT event_id, user_id, value, o_orderkey,
       CAST(o_orderdate AS DATE) AS asof_date
FROM matched WHERE rn = 1
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event → latest order of that user at-or-before the
    event time (lstore consumers do this against reference tables; SURVEY
    §2.3).  Always ``asof_join_broadcast_agg``: the query's own
    ``event_id < 2000`` predicate bounds the probe side.  The large×large
    union + running-``last()`` shape lives in tests/reference_forms.py
    as the parity and plan reference."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 2000)
          .select("event_id", "user_id", "value", "ts"))
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate")
    return asof_join_broadcast_agg(ev, od)


@query(
    "q_join_multiway_star",
    oracle=f"""
SELECT n_name, COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q_join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 5-way star join.  The FIXED-size dims (region,
    nation) broadcast unconditionally; customer — which scales with SF —
    broadcasts only while table stats say it fits (parquet footer row
    count, no pre-scan: the CBO decision made explicit).  The 1000×
    probe caught the unconditional form 2× over linear — a 6M-row
    forced broadcast build side — while UNDER-broadcasting cost 3×
    at 1×–100× (AQE's 10 MB default is far too shy for a 32-thread
    executor).  The dim chain reduces orders BEFORE the orderkey
    shuffle (date filter ~30% × ASIA/EUROPE ~40%), so the one big
    exchange moves ~12% of orders either way."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")))
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE"))
    dims = (cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
              .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
              .select("c_custkey", "n_name"))
    # ~40% of customers survive the 2-of-5-region cut (2-col build rows)
    dims_fit = fits_broadcast(sf_dir, "customer", 0.40)
    od_r = (od.join(F.broadcast(dims) if dims_fit else dims,
                    od.o_custkey == dims.c_custkey)
              .select("o_orderkey", "n_name"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # While the REDUCED orders relation (~12% of orders: 2-year window ×
    # region cut, 2 narrow cols) fits the build cap, broadcast it into
    # lineitem — the fact table then never shuffles at all (scan →
    # broadcast join → partial agg; measured at 1000×: 26.4 s vs 44.9 s
    # shuffled, vs 80.6 s for the original forced-dims form).  Past the
    # stats gate both joins go through AQE's shuffled path.
    # (Measured negative result, 1000×: pre-aggregating lineitem per
    # orderkey before this join — the classic exchange-shrinking move —
    # ran 2× SLOWER (102 s vs 50.6 s): with ~4 lines per order the
    # 150M-group hash aggregate costs more than the 4× shuffle-volume
    # saving, and it spills.  The direct join is the right shape here.)
    od_r_fit = fits_broadcast(sf_dir, "orders", 0.12)
    return (
        li.join(F.broadcast(od_r) if od_r_fit else od_r,
                li.l_orderkey == od_r.o_orderkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum(rev, "revenue"))
    )


@query(
    "q_join_skew_salted",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient fact⋈dim equi-join: events.user_id is a
    small-population key (a handful of users hold most rows — the
    classic hot-key shape), so the fact side is salted into 8
    deterministic sub-keys and the dimension replicated across salts
    (scale.salted_join).  Result is identical to the plain join the
    oracle runs; only the task-level distribution changes.

    Scale: a hot key holding p% of 100 TB lands on ONE task in a plain
    shuffle join; salting spreads it over n_salts tasks at the cost of
    dim×8 replication — the right trade for dimension-sized right
    sides.  (AQE skew-join handles fact⋈fact; this operator is the
    deterministic, planner-independent form.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    j = salted_join(ev, dim, "user_id", n_salts=8)
    return j.select("event_id", "user_id", "c_mktsegment", "value")


@query(
    "q_join_exists_flag",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       EXISTS (SELECT 1 FROM lineitem
               WHERE l_orderkey = o_orderkey
                 AND l_extendedprice > 80000) AS has_big_item
FROM orders WHERE o_orderkey % 13 = 0
""",
)
def q_join_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-flag ("mark") join: every probe row survives, annotated
    with whether a match EXISTS — the shape correlated EXISTS/IN
    predicates compile to when they feed further expressions rather
    than a filter (semi/anti joins are its two projections).  Expressed
    scale-first: the match side collapses to DISTINCT join keys BEFORE
    the join, so the join output is exactly |probe| rows regardless of
    match multiplicity (a naive left join + group-by would shuffle every
    matching lineitem row and re-aggregate).

    Scale: one partial-combined distinct on the filtered match side +
    one equi join; with the probe filter pushed to the scan, both
    inputs arrive pruned.  AQE picks broadcast when the distinct key
    set is small — the common selective-EXISTS case."""
    # orderkey-grain pair: on the bucketed layout the distinct key set
    # builds with ZERO exchange (scan arrives hash-partitioned on
    # l_orderkey) and the probe join is co-located (VERDICT r12 #6
    # breadth); plain parquet falls back to the shuffled distinct.
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    od = (t["orders"]
          .filter(F.col("o_orderkey") % 13 == 0)
          .select("o_orderkey", "o_orderpriority"))
    keys = (t["lineitem"]
            .filter(F.col("l_extendedprice") > 80000)
            .select(F.col("l_orderkey").alias("o_orderkey"))
            .distinct()
            .withColumn("_hit", F.lit(True)))
    return (od.join(keys, "o_orderkey", "left")
            .select("o_orderkey", "o_orderpriority",
                    F.coalesce("_hit", F.lit(False)).alias("has_big_item")))


# ----------------------------------------------------- runtime bloom filter

_BLOOM_BITS = 1 << 17   # 131,072 bits = 2,048 words = 16 KiB broadcast
_BLOOM_SEEDS = (11, 23, 47)  # k = 3 hash functions via seeded xxhash64


def bloom_bits_for(n_keys: int, fp_rate: float = 0.01) -> int:
    """Bloom sizing rule: m = -n·ln(p)/ln(2)² bits, rounded up to a
    power of two (so ``pmod`` stays a mask-friendly constant).  At the
    default 1% FP that is ~9.6 bits/key — a 1-billion-key build side
    (far past any broadcastable row count) needs a 1.2 GiB bitmap, which
    still broadcasts; k is fixed at 3 below the optimum (m/n·ln2 ≈ 7)
    because the probe-side cost is k hashes per row and the extra FP
    percentage only costs exact-join work, not correctness."""
    import math
    m = int(-n_keys * math.log(fp_rate) / (math.log(2) ** 2))
    return 1 << max(10, m.bit_length())


def bloom_bitmap(build: DataFrame, key: str,
                 mbits: int = _BLOOM_BITS) -> DataFrame:
    """ONE-row DataFrame holding a Bloom bitmap of ``build[key]`` as a
    DENSE array<long> indexed by word (mbits/64 elements): positions are
    ``pmod(xxhash64(key, seed), m)`` for k seeds, OR-combined per 64-bit
    word.  The aggregate is map-side combined (≤ m/64 groups), so
    building the filter costs one tiny shuffle regardless of build-side
    row count — the property that makes Bloom pruning usable when the
    build side is far too large to broadcast as rows (its bitmap is
    16 KiB–2 MB; the rows might be 100 GB).  Size ``mbits`` with
    ``bloom_bits_for`` when the build cardinality is known.

    Dense array, NOT map<word,bits>: Spark's ArrayBasedMapData has no
    hash index — ``element_at(map, k)`` is a linear scan of the keys, so
    a 262k-entry map probed 3× per row turned the 100× fixture's probe
    into O(|probe|·|map|) (measured 126 s vs 27 s for the SATURATED tiny
    map).  GetArrayItem on a dense array is O(1); the sparse→dense fill
    is one left join against ``range(nwords)`` (word ids are dense by
    construction, so index == word)."""
    from ..scale import dense_array_agg
    nwords = mbits // 64
    pos = build.select(F.explode(F.array(*[
        F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(mbits))
        for s in _BLOOM_SEEDS])).alias("pos"))
    words = (pos
             .select(F.expr("pos DIV 64").alias("word"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(pos % 64 AS INT))").alias("bit"))
             .groupBy("word").agg(F.expr("bit_or(bit)").alias("bits")))
    return dense_array_agg(words, "word", "bits", nwords, "bloom")


def bloom_prune(probe: DataFrame, key: str, bloom_row: DataFrame,
                mbits: int = _BLOOM_BITS) -> DataFrame:
    """Filter ``probe`` to rows whose ``key`` MAY be in the Bloom bitmap
    (false positives possible, false negatives impossible) — the
    runtime-filter / semi-join-reduction pattern: the 16 KiB bitmap is
    broadcast to every probe task and rows that cannot join are dropped
    BEFORE the join shuffle, so the shuffle moves only plausible rows.
    ``mbits`` must match the value the bitmap was built with."""
    checks = []
    for s in _BLOOM_SEEDS:
        # seed literal must be INT to match bloom_bitmap's F.lit(seed):
        # xxhash64 folds the argument TYPE into the hash, so an INT seed
        # on one side and a BIGINT on the other yield disjoint positions.
        # bloom[idx] is GetArrayItem — O(1) on the dense array; the index
        # is always in range (pmod < mbits), so ANSI mode never throws.
        p = f"pmod(xxhash64({key}, {s}), {mbits}L)"
        checks.append(
            f"(shiftright(bloom[CAST({p} DIV 64 AS INT)], "
            f"CAST({p} % 64 AS INT)) & 1) = 1")
    return (probe.join(F.broadcast(bloom_row))
            .filter(F.expr(" AND ".join(checks)))
            .drop("bloom"))


@query(
    "q_join_bloom_prune",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
GROUP BY o_orderpriority
""",
)
def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large⋈large equi-join accelerated by a portable Bloom runtime
    filter (`might_contain`/`bloom_filter_agg` are not public routines on
    this build, so the bitmap is built from first principles — seeded
    xxhash64 positions OR-folded into a 16 KiB dense array<long>;
    the map<word,bits> form was the measured 126-vs-27 s trap, see
    scale.dense_array_agg).  The
    probe (lineitem) is pre-filtered against the broadcast bitmap before
    the sort-merge shuffle; the exact join then removes Bloom false
    positives, so the result is EXACTLY the plain join the oracle runs.

    Scale: this is the shape for selective fact⋈fact joins where the
    build side exceeds the broadcast threshold as rows but its key-set
    bitmap does not — at 100 TB the probe shuffle is the dominant cost,
    and the bitmap drops ~(1 - selectivity) of it at scan time (here the
    3-month order window keeps ~4% of orders, so ~96% of lineitem rows
    never enter the exchange).  Same idea as Spark's own
    InjectRuntimeFilter / Trino dynamic filtering, expressed as a plan
    the optimizer cannot decline.  The `.hint("merge")` keeps the exact
    join a shuffle join even at test SF where the filtered build side
    would broadcast — the honest 100 TB plan (with a broadcastable build
    side you would skip Bloom entirely and broadcast the rows)."""
    from ..catalog import table_rows

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    od = (load_table(spark, sf_dir, "orders")
          .filter((F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
                  & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date")))
          .select("o_orderkey", "o_orderpriority"))
    # Self-sizing from catalog stats (parquet footer count × the 3-month/
    # ~6-year window ≈ 5% selectivity): a FIXED bitmap saturates once the
    # build side outgrows it (measured on the 100× fixture: 600k keys
    # into 2^17 bits sets every bit — zero pruning, pure overhead), while
    # an oversized one wastes broadcast.  Sizing is an upper-bound guess;
    # correctness never depends on it (FPs are removed by the exact join).
    mbits = bloom_bits_for(max(1024, table_rows(sf_dir, "orders") // 20))
    bloom = bloom_bitmap(od, "o_orderkey", mbits)
    pruned = bloom_prune(li, "l_orderkey", bloom, mbits)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        pruned.hint("merge")
        .join(od, pruned.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum(rev, "revenue"))
    )
