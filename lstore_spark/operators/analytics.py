"""Composite analytics: subqueries, TPC-H-style multi-operator queries,
and event-log analytics (funnel / retention / gap-fill) — the workloads a
consumer of the reference store actually runs over its log (SURVEY.md
§1.3: events ≈ the lstore log), plus argmax/string-agg/unpivot/histogram
aggregate forms.

All scale notes from joins.py/aggregates.py apply: dims broadcast, facts
shuffle once on their group key, window partitions are user/order keys
(high cardinality → even task distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fits_broadcast, load_table
from ..llm.hashing import sql_md5_long
from ..numerics import (DEC, davg, dsum, dsum9, sql_davg, sql_dec2dbl,
                        sql_dsum, sql_dsum9)
from ..registry import pin, query



# ---- shared exact-percentile + EWMA machinery (single source of truth;
# used by q_profile_key_skew / q_evt_conversion_time and driven directly
# by tests/test_analytics_property.py so tests exercise PRODUCTION code)


def hist_cum(df: DataFrame, value_col: str) -> DataFrame:
    """Counts-of-counts cumulative relation for exact percentiles over an
    integral metric: (value, freq, cfreq, n_total).  The unpartitioned
    windows run over |distinct values| rows — never over the underlying
    keys/rows — which is what makes the percentile scale-safe."""
    hist = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("freq"))
    wc = Window.orderBy(value_col)
    wall = Window.partitionBy()
    return hist.select(
        value_col, "freq",
        F.sum("freq").over(wc).alias("cfreq"),
        F.sum("freq").over(wall).alias("n_total"))


def hist_pick(mul: int, q: int, value_col: str):
    """Exact percentile pick over a hist_cum relation: smallest value
    whose cumulative frequency satisfies cfreq·mul ≥ n_total·q — a
    pure-integer comparison, immune to float thresholds."""
    return F.min(F.when(F.col("cfreq") * mul >= F.col("n_total") * q,
                        F.col(value_col)))


def ewma_num_den(w, value_col: str = "value", taps: int = 8):
    """The q_ts_ewma FIR unroll: (numerator, denominator) columns for an
    α=1/2 truncated-kernel EWMA over window spec ``w`` — dyadic weights
    (exact double scaling), present-weight renormalization on ramp-up."""
    lags = [F.lag(value_col, i).over(w) for i in range(1, taps)]
    weights = [2.0 ** -i for i in range(taps)]
    num = F.col(value_col) * F.lit(1.0)
    den = F.lit(1.0)
    for x, wt in zip(lags, weights[1:]):
        num = num + F.coalesce(x * F.lit(wt), F.lit(0.0))
        den = den + F.when(x.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
    return num, den


# ---------------------------------------------------------------- subqueries


@query(
    "q_subq_scalar",
    oracle=f"""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.9 * (
  SELECT {sql_dec2dbl("SUM(CAST(o_totalprice AS DECIMAL(30,8)))")}
         / COUNT(o_totalprice) FROM orders)
""",
)
def q_subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders ≥1.9× the global average price.  The scalar
    aggregate broadcasts (one row) — no correlated re-execution.  The
    average is the exact-decimal davg (review r11): the old raw-double
    form leaned on the 1.9× band to keep last-ulp partial-agg drift off
    decision boundaries — probabilistic, where davg makes both engines
    bit-identical for free."""
    od = load_table(spark, sf_dir, "orders")
    avg_p = od.agg(davg(F.col("o_totalprice"), "_avg"))
    return (
        od.crossJoin(F.broadcast(avg_p))
        .filter(F.col("o_totalprice") > 1.9 * F.col("_avg"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_subq_in",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE c_nationkey IN (
  SELECT n_nationkey FROM nation
  WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))
""",
)
def q_subq_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN subqueries ≡ chained semi joins (Catalyst plans IN the
    same way — the broadcast semi join is the scalable decorrelation)."""
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = na.join(
        F.broadcast(re), na.n_regionkey == re.r_regionkey, "left_semi")
    return cu.join(
        F.broadcast(asia_nations), cu.c_nationkey == asia_nations.n_nationkey,
        "left_semi",
    ).select("c_custkey", "c_name")


@query(
    "q_subq_correlated",
    oracle=f"""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice > 1.5 * (
  SELECT {sql_dec2dbl("SUM(CAST(i.o_totalprice AS DECIMAL(30,8)))")}
         / COUNT(i.o_totalprice)
  FROM orders i WHERE i.o_custkey = o.o_custkey)
""",
)
def q_subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated by hand the way Catalyst
    does: per-key aggregate + equi join (one shuffle, no per-row rescan).
    Per-customer averages in exact decimal (review r11 — same rationale
    as q_subq_scalar: the 1.5× band was a probabilistic defense against
    partial-agg ulp drift; davg removes the drift entirely)."""
    od = load_table(spark, sf_dir, "orders")
    per_cust = od.groupBy(F.col("o_custkey").alias("_ck")).agg(
        davg(F.col("o_totalprice"), "_avg"))
    return (
        od.join(per_cust, od.o_custkey == per_cust._ck)
        .filter(F.col("o_totalprice") > 1.5 * F.col("_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ------------------------------------------------------- TPC-H-style shapes


@query(
    "q_tpch_q3_shipping",
    oracle=f"""
SELECT l_orderkey,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       CAST(o_orderdate AS DATE) AS order_date
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): segment-filtered star join, grouped
    revenue, top-10.  Plan: broadcast filtered customers (stats-gated —
    the BUILDING segment is ~20% of an SF-SCALED table, the same
    footer-stat gate q5 applies; past the cap AQE's shuffled semi join
    takes over, review r11), shuffle join lineitem⋈orders, 2-phase agg,
    TakeOrdered."""
    # When the bucketed orderkey layout exists, both fact scans read it
    # (VERDICT r12 #6): the li⋈od merge needs no exchange and the
    # (l_orderkey, o_orderdate) rollup is satisfied by the buckets'
    # l_orderkey hash partitioning — the whole chain to TakeOrdered
    # compiles with zero orderkey exchanges.  Plain parquet falls back
    # to the broadcast+shuffle plan adjudicated at 1000×.
    from ..catalog import routed_tables

    cu = (load_table(spark, sf_dir, "customer")
          .filter(F.col("c_mktsegment") == "BUILDING"))
    if fits_broadcast(sf_dir, "customer", 0.20):
        cu = F.broadcast(cu)
    cut = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    od = t["orders"].filter(F.col("o_orderdate") < cut)
    li = t["lineitem"].filter(F.col("l_shipdate") > cut)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey, "left_semi")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(rev, "revenue"))
        .select("l_orderkey", "revenue",
                F.col("o_orderdate").cast("date").alias("order_date"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q18_large_orders",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       {sql_dsum('l_quantity', 'total_qty')}
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
HAVING SUM(l_quantity) > 220
""",
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): per-order quantity rollup with a
    HAVING threshold, re-joined to customer names.  HAVING compares the
    exact decimal sum (quantities are integral-valued doubles) so the
    predicate cannot flake across engines.

    When the bucketed orderkey layout exists (catalog.build_bucket_layout),
    BOTH fact scans read it: the rollup consumes the buckets' hash
    partitioning directly and the orders⋈rollup join co-locates, so the
    chain compiles with zero orderkey exchanges — erasing the 60+8 GB
    map+reduce spill this key showed at 1000×/32-wide (257 → 22.8-25.7 s
    measured, BASELINE.md "Round-10: the bucketed-layout answer,
    measured (q18 @ 1000×)"; VERDICT r10 #2).  Plain
    parquet falls back to today's shuffled plan."""
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    od, li = t["orders"], t["lineitem"]
    cu = load_table(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,8)")).alias("_qty"))
        .filter(F.col("_qty") > 220)
    )
    return (
        od.join(per_order, od.o_orderkey == per_order.l_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("_qty").cast("double").alias("total_qty"),
        )
    )


@query(
    "q_tpch_q5_local_supplier",
    oracle=f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-way join — region→nation
    prune the dimension side, customer and supplier must share a nation
    (the "local" condition, expressed as an extra equi key on the
    supplier join so Catalyst keeps it in the hash join, not a filter
    above a wider join).  Plan: region/nation broadcast unconditionally
    (fixed size); customer, the reduced-orders relation, and supplier
    broadcast only while parquet footer stats say they fit (the 1000×
    probe caught the unconditional form 2× over linear: 67.3 s from a
    forced 15M-row customer broadcast).  Under the gates the ASIA-semi
    customers reduce orders map-side and the result broadcasts into
    lineitem — the fact never shuffles; past them AQE's shuffled joins
    run, with orders cut to ~3% (year × ASIA) before its orderkey
    exchange."""
    yr_lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    yr_hi = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    re = (load_table(spark, sf_dir, "region")
          .filter(F.col("r_name") == "ASIA"))
    na = (load_table(spark, sf_dir, "nation")
          .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"),
                "left_semi"))
    cu_sel = (load_table(spark, sf_dir, "customer")
              .join(F.broadcast(na),
                    F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
              .select("c_custkey", "c_nationkey"))
    su = load_table(spark, sf_dir, "supplier")
    # order-grain fact pair: read the bucketed orderkey layout when it
    # exists (VERDICT r12 #6 breadth) — locally the reduced-orders side
    # broadcasts anyway, but past the gates the li⋈od_r fallback join
    # meets pre-co-located scans instead of shuffling both facts.
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    od = (t["orders"]
          .filter((F.col("o_orderdate") >= yr_lo)
                  & (F.col("o_orderdate") < yr_hi)))
    li = t["lineitem"]
    # ~20% of customers are in ASIA (1-of-5 regions, 2 narrow cols);
    # orders keep ~3% (1-year window × ASIA custkey semi); supplier
    # broadcasts whole (lineitem/10000 grain).  Measured at 1000×:
    # 15.0 s all-broadcast vs 56.1 s with the orderkey shuffle vs
    # 67.3 s for the original forced-full-customer broadcast.
    cu_fit = fits_broadcast(sf_dir, "customer", 0.20)
    od_fit = fits_broadcast(sf_dir, "orders", 0.03)
    su_fit = fits_broadcast(sf_dir, "supplier")
    od_r = (od.join(F.broadcast(cu_sel) if cu_fit else cu_sel,
                    od.o_custkey == cu_sel.c_custkey)
              .select("o_orderkey", "c_nationkey"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(od_r) if od_fit else od_r,
                li.l_orderkey == od_r.o_orderkey)
        .join(F.broadcast(su) if su_fit else su,
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(rev, "revenue"))
    )


@query(
    "q_tpch_q10_returns",
    oracle=f"""
SELECT c_custkey, c_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): one quarter of orders,
    lineitems restricted to returns, revenue rolled up per customer and
    re-decorated with nation.  Customer attributes are functionally
    dependent on the custkey, so the rollup groups on o_custkey ALONE
    and the top-20 result joins customer AFTERWARDS — decorating 20
    rows instead of broadcasting a wide SF-scaled customer table into
    the fact join (the 1000× probe caught the wide broadcast 1.3× over
    linear).  The quarter-reduced orders relation (~4%, 2 narrow cols)
    broadcasts into lineitem while footer stats say it fits, so the
    fact side never shuffles before its per-customer partial agg."""
    q_lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    q_hi = F.lit("1996-04-01 00:00:00").cast("timestamp_ntz")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    # order-grain fact pair onto the bucketed layout when present
    # (VERDICT r12 #6 breadth): locally the quarter-reduced orders
    # broadcast, but the at-scale fallback join li⋈od is co-located.
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    od = (t["orders"]
          .filter((F.col("o_orderdate") >= q_lo)
                  & (F.col("o_orderdate") < q_hi))
          .select("o_orderkey", "o_custkey"))
    li = (t["lineitem"]
          .filter(F.col("l_returnflag") == "R"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    od_fit = fits_broadcast(sf_dir, "orders", 0.04)
    top = (
        li.join(F.broadcast(od) if od_fit else od,
                li.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(dsum(rev, "revenue"))
        .orderBy(F.col("revenue").desc(), "o_custkey")
        .limit(20)
    )
    return (
        cu.join(F.broadcast(top), cu.c_custkey == top.o_custkey)
        .join(F.broadcast(na), F.col("c_nationkey") == na.n_nationkey)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
    )


@query(
    "q_tpch_q7_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between two nations, by
    direction and ship year.  Catalyst can't split the disjunctive
    nation-pair predicate across joins, but its single-side IMPLICATES
    can be pushed by hand: the pair (3,7)∨(7,3) implies supp_nation ∈
    {3,7} AND cust_nation ∈ {3,7}, so each side of the big
    lineitem⋈orders shuffle is reduced FIRST — lineitem through a
    broadcast join to the two nations' suppliers, orders through a
    broadcast join to their customers (~2/|nations| of rows each) —
    and only then meets the orderkey exchange; the full pair predicate
    then just drops the two same-nation combinations.  Value-identical
    to filtering after (the oracle keeps that form); at the 100×
    fixture the exchange ships ~5× fewer rows per side (9.1 → 3.8 s).
    Remaining shuffles: the reduced orderkey join + the 2-phase 3-key
    rollup."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    # UN-ROUTED in r14 (was routed onto the bucketed orderkey layout in
    # r13 on plan evidence alone — 3→1 hashpartitioning): the r14 scale
    # ledger MEASURED it at 1000× and plain won every interleaved pair
    # (13.8 s median vs routed 16.8; scripts/scale_probe_r14.json).
    # This key is the family's outlier because BOTH its fact sides are
    # broadcast-reduced by the selective two-nation predicates before
    # the orderkey join, so the exchanges the layout removes carry only
    # the reduced relation (cheap) while the bucketed scan forfeits
    # AQE coalescing on the full-table read.  The siblings whose
    # exchange carries un-reduced or mildly-reduced facts keep their
    # routing — measured wins in the same ledger: q8 12.9 vs 18.3, q3
    # 8.2 vs 22.7, sort_merge 21.5 vs 50.9, q13 1.3 vs 8.4, q22/q5/
    # exists_flag likewise (scripts/scale_probe_r14b.json).
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)))
    od = load_table(spark, sf_dir, "orders")
    su = load_table(spark, sf_dir, "supplier")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    both = F.col("n_name").isin("NATION_3", "NATION_7")
    n1 = na.filter(both).select(F.col("n_nationkey").alias("_sk"),
                                F.col("n_name").alias("supp_nation"))
    n2 = na.filter(both).select(F.col("n_nationkey").alias("_ck"),
                                F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    )
    # stats-gated like q5/q10/q14 (review r10: these two were the last
    # forced full-dim broadcasts — the exact shape the 1000× probe
    # measured 2× over linear on q5 before its gate).  Nation slices
    # are ≤25 rows, always broadcast.
    su_fit = fits_broadcast(sf_dir, "supplier")
    cu_fit = fits_broadcast(sf_dir, "customer")
    li_side = (
        li.join(F.broadcast(su) if su_fit else su,
                li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n1), su.s_nationkey == F.col("_sk"))
        .select("l_orderkey", "l_shipdate", "supp_nation",
                rev.alias("_rev"))
    )
    od_side = (
        od.join(F.broadcast(cu) if cu_fit else cu,
                od.o_custkey == cu.c_custkey)
        .join(F.broadcast(n2), cu.c_nationkey == F.col("_ck"))
        .select("o_orderkey", "cust_nation")
    )
    return (
        li_side.join(od_side, li_side.l_orderkey == od_side.o_orderkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(dsum(F.col("_rev"), "revenue"))
    )


_Q8_NATION_SUM = """SUM(CASE WHEN supp_nation = 'NATION_3'
           THEN volume ELSE CAST(0 AS DECIMAL(30,8)) END)"""


@query(
    "q_tpch_q8_market_share",
    oracle=f"""
WITH all_volume AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       ROUND(
         {sql_dec2dbl(_Q8_NATION_SUM)}
         / {sql_dec2dbl('SUM(volume)')},
         6) AS mkt_share
FROM all_volume
GROUP BY o_year
""",
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3 suppliers' share of
    ECONOMY-part volume sold into AMERICA, per order year.  The widest
    star in the suite — 7 relations — but every dimension broadcasts;
    the fact side shuffles once (lineitem⋈orders), and — the round-9
    fix that Q7 pioneered — each fact side is broadcast-REDUCED before
    that exchange: lineitem through the ECONOMY-part semi (+ supplier
    nation attach), orders through the date filter and the
    AMERICA-customer semi, so the orderkey shuffle ships only
    surviving rows (the old order joined the full facts first and went
    ~10% super-linear at the 1000× probe: 34.6 s → 23.8 s, growth
    11.2 → 6.5 — the ECONOMY-part fraction bounds the win).  The share
    is a conditional-sum / total-sum ratio computed in one aggregation
    pass (no self-join), both sums exact decimal before the final
    double divide + ROUND 6 (numerics.py discipline)."""
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    # Both fact sides are broadcast-reduced projections of the raw
    # scans, so the central orderkey SMJ inherits the bucketed layout's
    # partitioning AND sort order when it exists: the li_side/od_side
    # exchanges and their sorts vanish (VERDICT r12 #6 breadth; plain
    # parquet keeps the round-9 reduced-shuffle shape).
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"]
    pa = (load_table(spark, sf_dir, "part")
          .filter(F.col("p_type") == "ECONOMY"))
    su = load_table(spark, sf_dir, "supplier")
    od = (t["orders"]
          .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)))
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = (load_table(spark, sf_dir, "region")
          .filter(F.col("r_name") == "AMERICA"))
    n1 = na.join(F.broadcast(re), na.n_regionkey == re.r_regionkey,
                 "left_semi").select(F.col("n_nationkey").alias("_ck"))
    n2 = na.select(F.col("n_nationkey").alias("_sk"),
                   F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    zero = F.lit(0).cast(DEC)
    # stats-gated like q5/q10/q14 (review r10 — see q7's note).
    # ECONOMY is 1-of-6 p_type values (footer-checked at sf0.1:
    # 3,337/20,000); supplier/customer gate at full grain.
    pa_fit = fits_broadcast(sf_dir, "part", 0.17)
    su_fit = fits_broadcast(sf_dir, "supplier")
    cu_fit = fits_broadcast(sf_dir, "customer")
    li_side = (
        li.join(F.broadcast(pa) if pa_fit else pa,
                li.l_partkey == pa.p_partkey, "left_semi")
        .join(F.broadcast(su) if su_fit else su,
              li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n2), su.s_nationkey == F.col("_sk"))
        .select("l_orderkey", "supp_nation", vol.alias("_vol"))
    )
    od_side = (
        od.join(F.broadcast(cu) if cu_fit else cu,
                od.o_custkey == cu.c_custkey)
        .join(F.broadcast(n1), cu.c_nationkey == F.col("_ck"), "left_semi")
        .select("o_orderkey", "o_orderdate")
    )
    return (
        li_side.join(od_side, li_side.l_orderkey == od_side.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3",
                             F.col("_vol")).otherwise(zero)).cast("double")
                / F.sum(F.col("_vol")).cast("double"),
                6,
            ).alias("mkt_share"))
    )


_Q14_PROMO_SUM = """SUM(CASE WHEN p_type = 'PROMO'
    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))
    ELSE CAST(0 AS DECIMAL(30,8)) END)"""
_Q14_TOTAL_SUM = (
    "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)))")


@query(
    "q_tpch_q14_promo",
    oracle=f"""
SELECT ROUND(
         100.0 * {sql_dec2dbl(_Q14_PROMO_SUM)}
         / {sql_dec2dbl(_Q14_TOTAL_SUM)},
         6) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
""",
)
def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): PROMO parts' share of one month's
    revenue.  The month filter pushes to the lineitem scan and keeps
    ~1.2% of it — at every measured scale that REDUCED fact side is the
    smaller relation, so it broadcasts into part while footer stats say
    it fits (2 narrow cols; the 1000× probe caught the old
    full-part-table broadcast 1.4× over linear — part SCALES with SF:
    20M wide rows at 1000×).  Past the gate the join falls back to
    AQE's shuffled path with part pruned to (p_partkey, p_type); the
    conditional/total ratio is one global aggregate — a single-row
    result with no final shuffle beyond the 2-phase partial merge."""
    lo = F.lit("1996-09-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1996-10-01 00:00:00").cast("timestamp_ntz")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
          .select("l_partkey", vol.alias("_vol")))
    pa = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li_fit = fits_broadcast(sf_dir, "lineitem", 0.012)
    # post-projection volume column under its own name — rebinding
    # `vol` here shadowed the lineitem expression above and worked only
    # by statement order (review r12)
    vol_col = F.col("_vol")
    zero = F.lit(0).cast(DEC)
    return (
        (pa.join(F.broadcast(li), li.l_partkey == pa.p_partkey)
         if li_fit else li.join(pa, li.l_partkey == pa.p_partkey))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol_col)
                        .otherwise(zero)).cast("double")
                / F.sum(vol_col).cast("double"),
                6,
            ).alias("promo_revenue_pct"))
    )


@query(
    "q_tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)))
           AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       {sql_dec2dbl('total')} AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total = (SELECT MAX(total) FROM revenue)
""",
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with max revenue in a
    quarter.  Decorrelated the way Catalyst plans the view + scalar
    subquery: one per-suppkey rollup, a 1-row max broadcast back over
    it, equality on the EXACT decimal sums (double equality would flake;
    decimal is exact so ties are real ties in both engines), then a
    broadcast decorate with supplier."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp_ntz")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)))
    su = load_table(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("_total"))
    mx = per_supp.agg(F.max("_total").alias("_mx"))
    # broadcast the ~1-row WINNER relation into supplier, not the
    # SF-scaled supplier table into the winner (review r11: the old
    # form built a |suppliers|-row hash table to probe with one row,
    # and did it ungated)
    top = per_supp.join(F.broadcast(mx), F.col("_total") == F.col("_mx"))
    return (
        su.join(F.broadcast(top), F.col("l_suppkey") == su.s_suppkey)
        .select("s_suppkey", "s_name",
                F.col("_total").cast("double").alias("total_revenue"))
    )


@query(
    "q_tpch_q19_brand_bands",
    oracle=f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15
       AND l_quantity >= 1  AND l_quantity <= 20)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 10 AND l_quantity <= 35)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 20 AND l_quantity <= 50)
""",
)
def q_tpch_q19_brand_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, adapted to this schema's columns):
    three OR'd (brand, size-range, quantity-band) predicate arms over
    lineitem⋈part.  The part-only arm of each disjunct
    (brand ∧ size) prunes the broadcast build side BEFORE the join —
    the filter referencing both sides evaluates on the joined row, but
    part rows matching no arm never enter the hash table (the
    brand-disjunction is pushed to the part scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE band list feeds BOTH predicates (review r12: the literals
    # were written twice, so retuning a band in full_arm but not
    # part_arm would prune qualifying part rows out of the hash table
    # before the join — silently, since the oracle's constants would
    # likely be edited in the same sitting and still agree)
    bands = [("Brand#1", 1, 15, 1, 20),
             ("Brand#7", 10, 30, 10, 35),
             ("Brand#13", 20, 50, 20, 50)]
    from functools import reduce
    part_arm = reduce(lambda a, b: a | b, [
        (F.col("p_brand") == br) & F.col("p_size").between(slo, shi)
        for br, slo, shi, _qlo, _qhi in bands])
    # stats gate (review r11): the brand slice is ~12% of an SF-SCALED
    # part table — same convention as q8's 0.17 part gate; past the cap
    # AQE's shuffled join takes over
    pa = load_table(spark, sf_dir, "part").filter(part_arm)
    if fits_broadcast(sf_dir, "part", 0.12):
        pa = F.broadcast(pa)
    full_arm = reduce(lambda a, b: a | b, [
        (F.col("p_brand") == br) & F.col("p_size").between(slo, shi)
        & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi)
        for br, slo, shi, qlo, qhi in bands])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .filter(full_arm)
        .agg(dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# ------------------------------------------------- event-log analytics (REF)


@query(
    "q_evt_funnel",
    oracle="""
WITH stages AS (
  SELECT user_id,
         MIN(ts) FILTER (event_type = 'signup') AS t_signup,
         MIN(ts) FILTER (event_type = 'view') AS t_view_any,
         MIN(ts) FILTER (event_type = 'purchase') AS t_purchase_any
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_signup) AS n_signed_up,
       COUNT(CASE WHEN t_view_any > t_signup THEN 1 END) AS n_viewed_after,
       COUNT(CASE WHEN t_purchase_any > t_signup THEN 1 END) AS n_purchased_after
FROM stages
""",
)
def q_evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel over the event log: signup → later view → later purchase.
    One grouped pass (conditional MIN per stage), no joins — the shape
    that scales to any event volume."""
    ev = load_table(spark, sf_dir, "events")
    t = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))  # noqa: E731
    stages = ev.groupBy("user_id").agg(
        t("signup").alias("t_signup"),
        t("view").alias("t_view_any"),
        t("purchase").alias("t_purchase_any"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signed_up"),
        F.count(F.when(F.col("t_view_any") > F.col("t_signup"), 1)).alias("n_viewed_after"),
        F.count(F.when(F.col("t_purchase_any") > F.col("t_signup"), 1)).alias("n_purchased_after"),
    )


@query(
    "q_evt_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, day_offset, COUNT(*) AS n_active
FROM activity
WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
""",
)
def q_evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day; distinct active
    users per (cohort, day-offset ≤ 7).  The firsts table is a per-user
    aggregate — broadcast under the footer-stat gate (review r11: the
    old unconditional broadcast leaned on a docstring assertion; this
    fixture family runs ~1 distinct user per 65 events, gated at 0.05
    users/event to err conservative — a 1e9-user log falls back to the
    shuffled join the q_evt_rfm docstring contemplates)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    firsts = ev.groupBy(F.col("user_id").alias("_uid")).agg(
        F.min(day).alias("cohort_day"))
    if fits_broadcast(sf_dir, "events", 0.05):
        firsts = F.broadcast(firsts)
    return (
        ev.join(firsts, ev.user_id == firsts._uid)
        .select("user_id", "cohort_day",
                F.datediff(day, F.col("cohort_day")).alias("day_offset"))
        .filter(F.col("day_offset") <= 7)
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "q_ts_gapfill",
    oracle=f"""
WITH spine AS (
  SELECT unnest(generate_series(
    (SELECT date_trunc('hour', MIN(ts)) FROM events),
    (SELECT date_trunc('hour', MAX(ts)) FROM events),
    INTERVAL 1 HOUR)) AS hour_b
),
agg AS (
  SELECT date_trunc('hour', ts) AS hour_b, COUNT(*) AS n,
         {sql_dsum('value', 'sum_value')}
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT strftime(s.hour_b, '%Y-%m-%d %H:%M:%S') AS hour_start,
       COALESCE(a.n, 0) AS n,
       COALESCE(a.sum_value, 0.0) AS sum_value
FROM spine s LEFT JOIN agg a ON s.hour_b = a.hour_b
""",
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a dense hourly spine (sequence over the
    observed range) left-joined to sparse hourly aggregates, zeros filled.
    The spine is generated, not scanned — O(hours), broadcastable."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_b"))
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_b"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
    )
    return (
        spine.join(agg, "hour_b", "left")
        .select(
            F.date_format("hour_b", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "q_ts_interpolate",
    oracle="""
WITH spine AS (
  SELECT t.event_type, s.hour_b
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(
      (SELECT date_trunc('hour', MIN(ts)) FROM events),
      (SELECT date_trunc('hour', MAX(ts)) FROM events),
      INTERVAL 1 HOUR)) AS hour_b) s
),
obs AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_b, MIN(value) AS v
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT s.event_type, s.hour_b, o.v
  FROM spine s LEFT JOIN obs o
    ON s.event_type = o.event_type AND s.hour_b = o.hour_b
),
w AS (
  SELECT event_type, hour_b, v,
    last_value(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour_b
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN hour_b END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour_b
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
    first_value(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour_b
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN hour_b END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour_b
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM j
)
SELECT event_type,
       strftime(hour_b, '%Y-%m-%d %H:%M:%S') AS hour_start,
       v AS v_obs,
       ROUND(CASE
         WHEN v IS NOT NULL THEN v
         WHEN pv IS NULL OR nv IS NULL THEN COALESCE(pv, nv)
         ELSE pv + (nv - pv) * (epoch(hour_b) - epoch(ph))
                             / (epoch(nh) - epoch(ph))
       END, 6) AS v_interp
FROM w
""",
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a gapfilled hourly grid — the third
    classic gap policy alongside zero-fill (q_ts_gapfill) and LOCF
    (q_ts_forward_fill), and the hypertable engines' `interpolate()`:
    each missing hour gets the time-weighted blend of the nearest
    observed values on either side; leading/trailing gaps take the one
    neighbor that exists.  Per-hour observation is MIN(value) (raw
    double, no aggregation-order float hazard); the lerp is identical
    double arithmetic from identical inputs in both engines, ROUNDed at
    6 as belt-and-braces.

    Scale: windows partition by the series key (event_type here; any
    high-cardinality tag in production) so each series interpolates
    independently in one pass — two IGNORE NULLS running extremes, no
    self-join against the observation table and nothing quadratic; the
    spine stays generated-not-scanned (q_ts_gapfill discipline)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = (ev.select("event_type").distinct()
             .crossJoin(F.broadcast(bounds))
             .select("event_type",
                     F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR")))
                     .alias("hour_b")))
    obs = (ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_b"))
           .agg(F.min("value").alias("v")))
    j = spine.join(obs, ["event_type", "hour_b"], "left")
    w_prev = (Window.partitionBy("event_type").orderBy("hour_b")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_next = (Window.partitionBy("event_type").orderBy("hour_b")
              .rowsBetween(0, Window.unboundedFollowing))
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour_b"))
    pv = F.last("v", ignorenulls=True).over(w_prev)
    ph = F.last(obs_hour, ignorenulls=True).over(w_prev)
    nv = F.first("v", ignorenulls=True).over(w_next)
    nh = F.first(obs_hour, ignorenulls=True).over(w_next)
    # identical ASSOCIATIVITY to the oracle's left-associative
    # `pv + (nv - pv) * d1 / d2` — a (nv-pv)*(d1/d2) grouping is a
    # DIFFERENT double expression that can round apart at the 6th
    # decimal (review r10); "identical IEEE ops" requires the same
    # operation tree, not just the same formula
    d1 = F.unix_timestamp("hour_b") - F.unix_timestamp(ph)
    d2 = F.unix_timestamp(nh) - F.unix_timestamp(ph)
    interp = (F.when(F.col("v").isNotNull(), F.col("v"))
              .when(pv.isNull() | nv.isNull(), F.coalesce(pv, nv))
              .otherwise(pv + (nv - pv) * d1 / d2))
    return j.select(
        "event_type",
        F.date_format("hour_b", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        F.col("v").alias("v_obs"),
        F.round(interp, 6).alias("v_interp"))


@query(
    "q_evt_sessionize",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS BIGINT) AS session_idx
  FROM marked
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM sess GROUP BY user_id, session_idx
""",
)
def q_evt_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a >30-minute gap between a user's
    consecutive events starts a new session (the batch twin of
    q_stream_session_window's gap-based session windows).

    Classic gaps-and-islands: lag → new-session flag → running sum =
    session index → per-session aggregate.  Both windows and the final
    groupBy share the user_id partitioning, so the whole query costs ONE
    shuffle on user_id (Catalyst collapses the two window operators —
    same partition spec and ordering — into one sort).  NULL-ts rows
    excluded — the ts-ordered-window contract (review r13: Spark
    orders NULLs FIRST, DuckDB LAST, so an unknown-time row shifted
    every later session_idx differently per engine)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")),
        1).otherwise(0)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn("session_idx",
                    F.sum("is_new").over(
                        w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# ------------------------------------------------------ aggregate forms


@query(
    "q_agg_argmax",
    oracle="""
SELECT event_type, event_id AS argmax_event_id, value AS max_value
FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax as a single aggregate: max(struct(value, event_id)) gives
    the lexicographically-largest pair — deterministic tie-break by id,
    one 2-phase agg instead of a window sort.  (The oracle spells the
    same semantics as ROW_NUMBER; DuckDB 1.0's max_by can't take a struct
    comparator.)"""
    ev = load_table(spark, sf_dir, "events")
    mx = F.max(F.struct("value", "event_id")).alias("_m")
    return (
        ev.groupBy("event_type").agg(mx)
        .select(
            "event_type",
            F.col("_m.event_id").alias("argmax_event_id"),
            F.col("_m.value").alias("max_value"),
        )
    )


@query(
    "q_agg_stringagg",
    oracle="""
SELECT user_id,
       string_agg(event_type, ',' ORDER BY event_id) AS type_seq
FROM events
WHERE user_id < 10 AND event_id < 2000
GROUP BY user_id
""",
)
def q_agg_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): collect (event_id, type)
    structs, sort by id, join — deterministic by construction."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 10) & (F.col("event_id") < 2000))
    return (
        ev.groupBy("user_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("event_id", "event_type"))).alias("_l"))
        .select(
            "user_id",
            F.array_join(F.expr("transform(_l, s -> s.event_type)"), ",")
            .alias("type_seq"),
        )
    )


@query(
    "q_fn_unpivot",
    oracle="""
SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS val FROM supplier
UNION ALL
SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE) FROM supplier
""",
)
def q_fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via the native unpivot operator (melt)."""
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").cast("double").alias("nationkey"))
    return su.unpivot("s_suppkey", ["acctbal", "nationkey"], "metric", "val")


@query(
    "q_fn_histogram",
    oracle="""
SELECT LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS bucket,
       COUNT(*) AS n,
       MIN(value) AS lo,
       MAX(value) AS hi
FROM events
GROUP BY 1
""",
)
def q_fn_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram by integer bucket arithmetic (identical in
    both engines — no width_bucket dialect risk)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50), F.lit(9)).alias("bucket")
    return ev.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@query(
    "q_join_lateral",
    oracle="""
SELECT c_custkey, t.o_orderkey, t.o_totalprice
FROM customer,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS t
WHERE c_custkey <= 100
""",
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer) — the SQL
    form of per-key top-k; Catalyst decorrelates it to the same
    shuffle+rank plan as the window formulation (q_win_rank_topn)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q_lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q_lat_orders")
    return spark.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM q_lat_customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM q_lat_orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS t
        WHERE c_custkey <= 100
    """)


@query(
    "q_sql_recursive_cte",
    oracle="""
WITH RECURSIVE days(d) AS (
  SELECT DATE '2024-01-01'
  UNION ALL
  SELECT d + 1 FROM days WHERE d < DATE '2024-01-30'
)
SELECT days.d AS day, COUNT(e.event_id) AS n_events
FROM days LEFT JOIN events e ON CAST(e.ts AS DATE) = days.d
GROUP BY days.d
""",
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): generate the January day spine by
    recursion and left-join daily event counts — the iterative-query
    surface (hierarchies, transitive closure) on its simplest exhibit."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("q_rec_events")
    return spark.sql("""
        WITH RECURSIVE days(d) AS (
          SELECT DATE '2024-01-01' AS d
          UNION ALL
          SELECT date_add(d, 1) FROM days WHERE d < DATE '2024-01-30'
        )
        SELECT days.d AS day, COUNT(e.event_id) AS n_events
        FROM days LEFT JOIN q_rec_events e ON CAST(e.ts AS DATE) = days.d
        GROUP BY days.d
    """)


@query(
    "q_profile_table",
    oracle="""
SELECT 'event_id' AS col, COUNT(event_id) AS n_nonnull,
       COUNT(DISTINCT event_id) AS n_distinct FROM events
UNION ALL
SELECT 'user_id', COUNT(user_id), COUNT(DISTINCT user_id) FROM events
UNION ALL
SELECT 'event_type', COUNT(event_type), COUNT(DISTINCT event_type) FROM events
UNION ALL
SELECT 'value', COUNT(value), COUNT(DISTINCT value) FROM events
UNION ALL
SELECT 'props', COUNT(props), COUNT(DISTINCT props) FROM events
""",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (non-null + distinct counts per column) — the
    lstore indexer's per-block summaries surfaced as a query, and the
    first step of any data-quality pipeline.  One pass per plan; Spark
    computes all profiles in a single multi-aggregate scan then unpivots."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    aggs = []
    for c in cols:
        aggs += [F.count(c).alias(f"nn_{c}"),
                 F.countDistinct(c).alias(f"nd_{c}")]
    wide = ev.agg(*aggs)
    # stack() over the ONE wide agg row, same idiom as
    # q_quality_constraints: the previous union-of-five-select branches
    # re-ran the whole 10-aggregate scan per branch under Spark's
    # no-CSE-across-branches rule (plan audit showed 10 exchanges /
    # 20 agg nodes for one logical pass — review r10); this form is
    # the single multi-aggregate scan the docstring promises.
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return wide.select(F.expr(
        f"stack({len(cols)}, {stack_args}) AS (col, n_nonnull, n_distinct)"))


_SAMPLE_HASH = sql_md5_long("concat('sample:42:', CAST(event_id AS {s}))", 8)


@query(
    "q_sample_seeded",
    oracle=f"""
SELECT event_id, user_id, event_type, value
FROM events
WHERE {_SAMPLE_HASH.format(s='VARCHAR')} % 1000 < 100
""",
)
def q_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 10% universe sample: keep rows whose salted portable hash
    of the key lands under the rate cutoff.  Unlike Bernoulli ``.sample``
    (engine-specific RNG stream — not oracle-comparable, VERDICT r2
    item 5), hash-mod sampling is deterministic, reproducible across
    engines/runs, and *consistent*: the same key set is selected at any
    scale, so samples of two tables stay joinable.  Pure map-side
    filter — no shuffle, pushdown-friendly at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    keep = F.expr(_SAMPLE_HASH.format(s="STRING")) % 1000 < 100
    return ev.filter(keep).select("event_id", "user_id", "event_type", "value")


# ------------------------------------------------ event-log analytics II


@query(
    "q_evt_pathing",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE ts IS NOT NULL
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def q_evt_pathing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pathing: counts of (previous → next) event-type transitions
    per user — the bigram table behind sankey/flow dashboards.  LAG over
    (user, time) then a plain count aggregate; event_id breaks ts ties
    so the sequence is a total order in both engines.

    Scale: the window partitions by user_id (high cardinality), the
    transition aggregate has ≤ |types|² groups — partial-combined to
    almost nothing before the shuffle."""
    return transition_counts(load_table(spark, sf_dir, "events"))


def transition_counts(ev: DataFrame) -> DataFrame:
    """(prev_type, next_type, n_trans) bigram transition counts over
    each user's (ts, event_id)-ordered event sequence — the ONE
    definition shared by q_evt_pathing (raw counts) and q_evt_markov
    (row-normalized probabilities), so the sequencing contract
    (event_id tie-break, NULL-lag drop) can never drift between them
    (review r10 — the block was previously inlined in both).  NULL-ts
    rows excluded — the ts-ordered-window contract (r13)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("ts").isNotNull())
        .select("event_type",
                  F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )


@query(
    "q_evt_anomaly_zscore",
    oracle="""
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       ROUND((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
FROM events e JOIN stats USING (event_type)
WHERE abs((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))) > 2.5
""",
)
def q_evt_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging: events whose value sits > 2.5σ from
    their event-type mean.  Moments are computed as exact-decimal sums
    (order-independent — numerics.py discipline), then mean/σ/z are
    plain IEEE double arithmetic, bit-identical across engines; builtin
    STDDEV in either engine would be order-dependent.

    Scale: the stats side is ≤ |types| rows → broadcast; flagging is a
    map-side filter over the raw scan — no second shuffle."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(DEC)).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    sigma = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    # try_divide: a constant-valued type has sigma=0 and its z must be
    # NULL (filtered out) like DuckDB's x/0.0, not an ANSI
    # DIVIDE_BY_ZERO throw (review r13)
    z = F.try_divide(F.col("value") - mean, sigma)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"))
    )


@query(
    "q_ts_interval_coalesce",
    oracle="""
WITH iv AS (
  SELECT user_id, ts, event_id, ts + INTERVAL 5 MINUTE AS te
  FROM events
  WHERE ts IS NOT NULL
),
marked AS (
  SELECT user_id, ts, event_id, te,
         CASE WHEN ts > MAX(te) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, ts, te,
         CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id
  FROM marked
)
SELECT user_id, island_id, MIN(ts) AS island_start, MAX(te) AS island_end,
       COUNT(*) AS n_events
FROM islands GROUP BY user_id, island_id
""",
)
def q_ts_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (gaps-and-islands): each event opens a 5-min
    activity interval; overlapping/touching intervals per user merge
    into islands.  New island ⇔ start exceeds the running MAX of prior
    interval ends (handles containment, where a plain LAG misses that a
    long early interval spans later ones); island ids by running sum.

    Scale: two windows + one aggregate, all partitioned by user_id —
    no self-join, no shuffle beyond the per-user repartition the window
    needs anyway (Catalyst reuses one Exchange for all three).
    NULL-ts rows excluded — the ts-ordered-window contract (r13)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    iv = ev.select("user_id", "ts", "event_id",
                   F.expr("ts + INTERVAL 5 MINUTE").alias("te"))
    w_prev = (Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.select(
        "user_id", "ts", "event_id", "te",
        F.when(F.col("ts") > F.max("te").over(w_prev), 1)
        .otherwise(0).alias("new_island"),
    )
    w_run = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    islands = marked.select(
        "user_id", "ts", "te",
        F.sum("new_island").over(w_run).alias("island_id"))
    return (
        islands.groupBy("user_id", "island_id")
        .agg(F.min("ts").alias("island_start"),
             F.max("te").alias("island_end"),
             F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "q_ts_forward_fill",
    oracle="""
SELECT event_id, user_id, ts,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_purchase_value
FROM events
WHERE ts IS NOT NULL
""",
)
def q_ts_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF): carry each user's most recent purchase value
    onto every subsequent event — ``last(..., ignorenulls)`` over a
    per-user time order; events before the first purchase stay NULL.
    The value passes through unaggregated, so no float discipline is
    needed.

    Scale: one window, partitioned by user_id; running state is a
    single value per partition — Spark's window operator streams the
    frame without buffering it.  NULL-ts rows excluded — the
    ts-ordered-window contract (r13)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id", "user_id", "ts",
        F.last(sparse, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@query(
    "q_evt_rfm",
    oracle=f"""
WITH mx AS (SELECT MAX(ts) AS now_ts FROM events),
base AS (
  SELECT user_id,
         date_diff('day', MAX(ts), (SELECT now_ts FROM mx)) AS recency_days,
         COUNT(*) AS frequency,
         {sql_dsum('value', 'monetary')}
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary,
       NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
       NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
       NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
FROM base
""",
)
def q_evt_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    purchase, against the corpus max timestamp so the result is
    reproducible), frequency, exact-decimal monetary sum, each scored
    into NTILE(5) quintiles (5 = best; ties broken by user_id so both
    engines bucket identically).

    Scale: one partial-combined aggregate on user_id, then three global
    NTILE windows over the AGGREGATED relation — one row per user, i.e.
    the windows sort |users|, not |events| (the raw log never enters a
    global sort).  At 10⁹ users replace exact NTILE with approximate
    percentile cutpoints (approx_percentile on the aggregate, broadcast
    the 4 cut values, bucket by comparison — the same result modulo
    boundary ties, no global sort at all); the fixture-size exhibit
    keeps exact NTILE for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now_ts"))
    base = (ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.max("ts").alias("last_ts"),
                 F.count(F.lit(1)).alias("frequency"),
                 dsum(F.col("value"), "monetary"))
            .crossJoin(F.broadcast(mx))
            .select("user_id",
                    F.datediff(F.col("now_ts"), F.col("last_ts"))
                    .alias("recency_days"),
                    "frequency", "monetary"))
    return base.select(
        "user_id", "recency_days", "frequency", "monetary",
        F.ntile(5).over(Window.orderBy(F.col("recency_days").desc(),
                                       "user_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id"))
        .alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "user_id"))
        .alias("m_score"))


@query(
    "q_ts_counter_rate",
    oracle="""
WITH c AS (
  SELECT user_id, ts, event_id,
         SUM(event_id % 97) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) % 1000 AS counter
  FROM events
),
d AS (
  SELECT user_id, counter,
         counter - LAG(counter) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS delta
  FROM c
)
SELECT user_id,
       COUNT(*) AS n_samples,
       CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
       CAST(SUM(CASE WHEN delta IS NULL THEN 0
                     WHEN delta < 0 THEN counter
                     ELSE delta END) AS BIGINT) AS total_increase
FROM d GROUP BY user_id
""",
)
def q_ts_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonic-counter increase with reset detection — the PromQL
    ``increase()`` contract (public Prometheus semantics): a counter
    sample lower than its predecessor means the counter reset to zero,
    so the post-reset VALUE is the increase since the reset, while
    normal samples contribute their delta.  The counter series is
    derived deterministically from the fixture (per-user running sum of
    ``event_id % 97``, wrapped mod 1000 so resets genuinely occur —
    integer arithmetic end-to-end, so both engines agree exactly).

    Scale: one window per series key (user_id — high cardinality, even
    tasks) for the lag, then a partial-combined aggregate; counter state
    is one value per series, the same shape every TSDB rate() engine
    runs.  Wrap-vs-reset ambiguity is resolved the PromQL way (assume
    restart at zero) — deliberately, since that is the documented public
    contract being re-expressed."""
    ev = load_table(spark, sf_dir, "events")
    w_run = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = ev.select(
        "user_id", "ts", "event_id",
        (F.sum(F.col("event_id") % 97).over(w_run) % 1000).alias("counter"))
    d = c.select(
        "user_id", "counter",
        (F.col("counter") - F.lag("counter").over(w_lag)).alias("delta"))
    inc = (F.when(F.col("delta").isNull(), F.lit(0))
           .when(F.col("delta") < 0, F.col("counter"))
           .otherwise(F.col("delta")))
    return (d.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 F.sum(F.coalesce((F.col("delta") < 0).cast("int"),
                                  F.lit(0))).cast("long")
                 .alias("n_resets"),
                 F.sum(inc).cast("long").alias("total_increase")))


@query(
    "q_ts_pop_change",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY CAST(ts AS DATE)
)
SELECT day, revenue,
       ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY day))
                   / LAG(revenue) OVER (ORDER BY day), 6) AS pct_change
FROM daily
""",
)
def q_ts_pop_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change: daily purchase revenue with % change
    vs the previous day.  Revenue sums in exact DECIMAL (numerics.py
    discipline); the ratio is then plain IEEE-double arithmetic on
    identical inputs, rounded to 6 places.

    Scale: the raw scan collapses to one row per day *before* the
    window, so the global (un-partitioned) LAG runs over a series
    bounded by calendar days, not corpus size — the one case where a
    global window is safe at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum(F.col("value"), "revenue"))
    )
    prev = F.lag("revenue").over(Window.orderBy("day"))
    return daily.select(
        "day", "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 6)
        .alias("pct_change"),
    )


@query(
    "q_ts_missing_ranges",
    oracle="""
WITH pruned AS (
  SELECT event_id FROM events WHERE event_id % 7 <> 0
),
seq AS (
  SELECT event_id,
         LAG(event_id) OVER (ORDER BY event_id) AS prev_id
  FROM pruned
)
SELECT prev_id + 1 AS gap_start, event_id - 1 AS gap_end,
       event_id - prev_id - 1 AS n_missing
FROM seq WHERE event_id - prev_id > 1
""",
)
def q_ts_missing_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection: contiguous ranges of missing event_ids
    (the lstore "hole in the offset log" audit).  Ids ≡ 0 mod 7 are
    dropped first so the fixture — a gapless monotone log — produces a
    deterministic non-empty answer.

    Scale: a naive global LAG needs a total sort into ONE task.  This
    plan blocks ids into 1024-id chunks TWICE over: in-block gaps come
    from a window partitioned by block (parallel); cross-block gaps
    from a LAG over the per-block min/max summary partitioned by
    SUPER-block (1024 blocks each, still parallel); only the
    super-block boundaries — a series 1/1024² ≈ 1e-6 of the corpus —
    ride a global LAG (review r11: the single-level form's global LAG
    over |ids|/1024 summary rows was itself the unbounded-single-task
    shape this query exists to avoid).  The relation is pinned: two
    branches read it and Spark does no CSE across branches.  The oracle
    keeps the naive global form; both emit identical ranges because a
    boundary gap is reported at exactly one level (adjacent blocks in
    one super-block, or adjacent super-blocks)."""
    ev = load_table(spark, sf_dir, "events")
    pruned = pin(ev.filter(F.col("event_id") % 7 != 0)
                 .select("event_id", F.expr("event_id DIV 1024").alias("blk")))
    w_in = Window.partitionBy("blk").orderBy("event_id")
    in_blk = (
        pruned.select("event_id",
                      F.lag("event_id").over(w_in).alias("prev_id"))
        .filter(F.col("event_id") - F.col("prev_id") > 1)
    )
    summary = (pruned.groupBy("blk")
               .agg(F.min("event_id").alias("mn"),
                    F.max("event_id").alias("mx"))
               .withColumn("sblk", F.expr("blk DIV 1024")))
    w_blk = Window.partitionBy("sblk").orderBy("blk")
    cross_blk = (
        summary.select(F.col("mn").alias("event_id"),
                       F.lag("mx").over(w_blk).alias("prev_id"))
        .filter(F.col("event_id") - F.col("prev_id") > 1)
    )
    ssummary = summary.groupBy("sblk").agg(
        F.min("mn").alias("mn"), F.max("mx").alias("mx"))
    w_sblk = Window.orderBy("sblk")
    cross_sblk = (
        ssummary.select(F.col("mn").alias("event_id"),
                        F.lag("mx").over(w_sblk).alias("prev_id"))
        .filter(F.col("event_id") - F.col("prev_id") > 1)
    )
    gaps = in_blk.unionByName(cross_blk).unionByName(cross_sblk)
    return gaps.select(
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("prev_id") - 1).alias("n_missing"),
    )


@query(
    "q_quality_constraints",
    oracle="""
SELECT 'orders_fk_customer' AS constraint_name,
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS n_violations
UNION ALL
SELECT 'lineitem_fk_orders',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'events_type_domain',
       (SELECT COUNT(*) FILTER (WHERE event_type NOT IN
          ('click','error','purchase','signup','view')) FROM events)
UNION ALL
SELECT 'events_value_negative',
       (SELECT COUNT(*) FILTER (WHERE value < 0) FROM events)
UNION ALL
SELECT 'events_value_outlier_400',
       (SELECT COUNT(*) FILTER (WHERE value > 400) FROM events)
UNION ALL
SELECT 'documents_nchars_mismatch',
       (SELECT COUNT(*) FILTER (WHERE length(text) <> n_chars)
        FROM documents)
UNION ALL
SELECT 'orders_price_nonpositive',
       (SELECT COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders)
""",
)
def q_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: one row per declared constraint with its
    violation count (zeros included — the report IS the contract).
    Covers referential integrity (FK anti-joins), domain membership,
    range expectations, and derived-column consistency.

    Scale: all per-table predicate checks for a table share ONE scan
    (conditional count_if aggregates, partial-combined map-side);
    FK checks are anti-joins that broadcast the dimension when small.
    Seven checks cost two fact scans + two anti-joins, not seven
    passes."""
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def one(name, cnt_df):
        return cnt_df.select(F.lit(name).alias("constraint_name"),
                             F.col("n").cast("long").alias("n_violations"))

    # The three event checks share ONE aggregate row, unpivoted via
    # stack() — referencing the agg from three union branches would
    # re-scan events per branch.
    ev_long = ev.agg(
        F.count_if(~F.col("event_type").isin(
            "click", "error", "purchase", "signup", "view")).alias("dom"),
        F.count_if(F.col("value") < 0).alias("neg"),
        F.count_if(F.col("value") > 400).alias("out"),
    ).select(F.expr(
        "stack(3, 'events_type_domain', dom,"
        " 'events_value_negative', neg,"
        " 'events_value_outlier_400', out)"
        " AS (constraint_name, n_violations)"))
    parts = [
        one("orders_fk_customer",
            orders.join(cust, orders.o_custkey == cust.c_custkey,
                        "left_anti").agg(F.count(F.lit(1)).alias("n"))),
        one("lineitem_fk_orders",
            li.join(orders, li.l_orderkey == orders.o_orderkey,
                    "left_anti").agg(F.count(F.lit(1)).alias("n"))),
        ev_long.select("constraint_name",
                       F.col("n_violations").cast("long")),
        one("documents_nchars_mismatch",
            docs.agg(F.count_if(F.length("text") != F.col("n_chars"))
                     .alias("n"))),
        one("orders_price_nonpositive",
            orders.agg(F.count_if(F.col("o_totalprice") <= 0).alias("n"))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_ts_ohlc",
    oracle="""
WITH ranked AS (
  SELECT date_trunc('hour', ts) AS bar, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT bar,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_ticks
FROM ranked GROUP BY bar
""",
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling (downsample a tick stream to hourly bars):
    open/close via min_by/max_by on the (ts, event_id) total order,
    high/low/count as plain aggregates — ONE partial-combinable hash
    aggregate over the raw stream, no window sort of the data (the
    oracle's ROW_NUMBER form expresses the same pick for DuckDB).
    Values are selected, never summed, so doubles compare exactly.

    Scale: classic time-series downsampling; the aggregate carries one
    candidate row per (partition, bar) into the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    ordk = F.struct("ts", "event_id")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bar"))
        .agg(F.min_by("value", ordk).alias("open"),
             F.max("value").alias("high"),
             F.min("value").alias("low"),
             F.max_by("value", ordk).alias("close"),
             F.count(F.lit(1)).alias("n_ticks"))
    )


_RESERVOIR_HASH = sql_md5_long("concat('rsv:7:', CAST(event_id AS {s}))", 10)


@query(
    "q_sample_reservoir",
    oracle=f"""
SELECT event_id, user_id, event_type, value
FROM events
ORDER BY {_RESERVOIR_HASH.format(s='VARCHAR')}, event_id
LIMIT 100
""",
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE uniform sample (n=100) via hash-priority selection:
    every row gets a deterministic salted-hash priority; the sample is
    the global bottom-100 priorities.  Equivalent to a seeded reservoir
    sample but stateless and mergeable: Spark plans it as TakeOrdered
    (per-partition bottom-100, then a 100×n_partitions merge on the
    driver) — no global sort, no sequential pass, reproducible across
    engines/runs/retries.  Complements q_sample_seeded (fixed-RATE)."""
    ev = load_table(spark, sf_dir, "events")
    pri = F.expr(_RESERVOIR_HASH.format(s="STRING"))
    return (
        ev.select("event_id", "user_id", "event_type", "value",
                  pri.alias("_pri"))
        .orderBy("_pri", "event_id")
        .limit(100)
        .drop("_pri")
    )


@query(
    "q_evt_attribution",
    oracle="""
WITH tl AS (
  SELECT user_id, ts, event_id, event_type, value,
         MAX(CASE WHEN event_type = 'view' THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_id
  FROM events
  WHERE ts IS NOT NULL
)
SELECT event_id AS purchase_id, user_id, value, last_view_id
FROM tl WHERE event_type = 'purchase'
""",
)
def q_evt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent PRECEDING view.  One pass over the user timeline — a running
    conditional MAX over (ts, event_id) order — then filter to
    purchases; no self-join, no row multiplication (the same
    timeline-window shape as the large×large as-of join).

    The running id MAX doubles as "latest view" because event_id is the
    log offset: monotone with (ts, event_id) order (FIXTURES.md), so
    max prior view id ≡ most recent prior view.

    Scale: window partitioned by user_id (high cardinality) — one
    shuffle of the slim (user, ts, id, type, value) projection.
    NULL-ts rows excluded — the ts-ordered-window contract (r13)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("event_id"))).over(w)
    return (
        ev.select("user_id", "ts", "event_id", "event_type", "value",
                  last_view.alias("last_view_id"))
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                "user_id", "value", "last_view_id")
    )


@query(
    "q_agg_linreg_trend",
    oracle="""
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         SUM(CAST(value AS DECIMAL(30,8))) AS y
  FROM events GROUP BY 1, 2
),
comp AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
  FROM daily GROUP BY event_type
)
SELECT event_type, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept
FROM comp
""",
)
def q_agg_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of daily volume (least-squares slope and
    intercept over day index) — the regr_slope/regr_intercept family,
    built from mergeable moments (n, Σx, Σy, Σxy, Σx²) so it computes
    in one partial-combinable aggregate pass per level.  y-moments
    accumulate in exact decimal (order-independent); the closed-form
    slope/intercept is then identical double arithmetic in both
    engines, rounded once.

    Scale: moments are the textbook distributive-aggregate trick — at
    100 TB the daily layer and the moment layer both partial-combine;
    nothing holds more than a few values per group."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"),
                       F.lit("2024-01-01").cast("date")).alias("x"))
        .agg(F.sum(F.col("value").cast(DEC)).alias("y"))
    )
    comp = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        # x as decimal(9,0) × y as decimal(28,8) → decimal(38,8): the
        # product fits Spark's 38-precision cap EXACTLY at scale 8.
        # The old x.cast(DEC) * y hit p=30+38+1 > 38 and Spark silently
        # reduced the result to decimal(38,6) — each term HALF_UP-
        # rounded at 1e-6 (up to 5e-7/term) while DuckDB's BIGINT ×
        # DECIMAL(38,8) stayed exact at scale 8, so the engines'
        # sxy moments differed and the ROUND(...,6) slope equality was
        # probabilistic (review r12, verified live in both engines).
        # x ≤ ~366 fits (9,0); y overflowing (28,8) — |Σvalue| ≥ 1e20
        # per (type, day) — would fail loudly under ANSI, not round.
        F.sum(F.col("x").cast("decimal(9,0)")
              * F.col("y").cast("decimal(28,8)"))
        .cast("double").alias("sxy"),
    )
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return comp.select(
        "event_type", "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"))


_AB_HASH = sql_md5_long("concat('exp1:', CAST(user_id AS {s}))", 8)


@query(
    "q_evt_ab_test",
    oracle=f"""
WITH assigned AS (
  SELECT user_id,
         CASE WHEN {_AB_HASH.format(s='VARCHAR')} % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END)
           AS converted
  -- identifiable users only (review r13): an arm cannot be assigned to
  -- a NULL user — and the engines even hash it differently (DuckDB's
  -- concat SKIPS a NULL argument, Spark's concat NULL-propagates)
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
arms AS (
  SELECT arm, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_conv
  FROM assigned GROUP BY arm
),
wide AS (
  SELECT MAX(CASE WHEN arm = 'A' THEN n_users END) AS na,
         MAX(CASE WHEN arm = 'A' THEN n_conv END) AS xa,
         MAX(CASE WHEN arm = 'B' THEN n_users END) AS nb,
         MAX(CASE WHEN arm = 'B' THEN n_conv END) AS xb
  FROM arms
)
SELECT na, xa, nb, xb,
       ROUND(CAST(xa AS DOUBLE) / na, 6) AS rate_a,
       ROUND(CAST(xb AS DOUBLE) / nb, 6) AS rate_b,
       ROUND((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
             / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
                    * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
                    * (1.0 / na + 1.0 / nb)), 6) AS z_score
FROM wide
""",
)
def q_evt_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically bucketed into
    arms by salted portable hash (the industry-standard stateless
    assignment — stable across sessions, reproducible for re-analysis),
    per-arm conversion = any high-value purchase (value > 90 — the
    fixture logs a purchase for every user, so plain purchase rate is
    degenerate p=1), pooled two-proportion z-score.
    The identical hash arithmetic runs in DuckDB, so arm assignment,
    rates, and the z statistic are all hash-verified.

    Scale: one grouped pass per user (partial-combined MAX), a 2-row
    arm aggregate, and scalar math — experiment readouts stay this
    shape at any event volume."""
    # identifiable users only — mirrors the oracle (review r13)
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()))
    arm = F.when(F.expr(_AB_HASH.format(s="STRING")) % 2 == 0, "A") \
           .otherwise("B")
    assigned = (
        ev.select("user_id", arm.alias("arm"),
                  ((F.col("event_type") == "purchase")
                   & (F.col("value") > 90)).cast("int").alias("c"))
        .groupBy("user_id", "arm")
        .agg(F.max("c").alias("converted"))
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_conv"))
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("xa"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("xb"))
    # try_divide throughout (review r13): a degenerate corpus (no
    # conversions, or an empty arm) zeroes the pooled variance or an
    # arm count — DuckDB's x/0 is NULL, Spark's ANSI default throws
    ra = F.try_divide(F.col("xa").cast("double"), F.col("na"))
    rb = F.try_divide(F.col("xb").cast("double"), F.col("nb"))
    p = F.try_divide((F.col("xa") + F.col("xb")).cast("double"),
                     F.col("na") + F.col("nb"))
    z = F.try_divide(ra - rb,
                     F.sqrt(p * (1 - p) * (F.try_divide(F.lit(1.0), F.col("na"))
                                           + F.try_divide(F.lit(1.0),
                                                          F.col("nb")))))
    return wide.select(
        "na", "xa", "nb", "xb",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"))


@query(
    "q_ts_downsample_peak",
    oracle=f"""
WITH b AS (
  SELECT event_id, value,
         CAST(FLOOR(epoch(ts) / 21600.0) AS BIGINT) AS bucket
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT bucket,
         {sql_davg('value', 'avg_v')},
         COUNT(*) AS n_points
  FROM b GROUP BY bucket
),
r AS (
  SELECT b.bucket, b.event_id, b.value, m.n_points,
         ROW_NUMBER() OVER (
           PARTITION BY b.bucket
           ORDER BY ABS(b.value - m.avg_v) DESC, b.event_id) AS rn
  FROM b JOIN m USING (bucket)
)
SELECT bucket, event_id, value, n_points
FROM r WHERE rn = 1
""",
)
def q_ts_downsample_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-preserving downsampling: one representative point per
    6-hour bucket — the one FARTHEST from the bucket mean (ties to the
    lowest event_id), so spikes survive decimation where naive
    first/avg-per-bucket rendering would erase them (the
    chart-renderer/LTTB-family need; the mean-distance criterion keeps
    it closed-form where LTTB's greedy chain is not).

    Scale: two phases over one shuffle key (bucket) — a map-side-
    combined mean, then a max_by per bucket; no window over raw points,
    no sort.  Output is |buckets| rows regardless of input: a 100 TB
    series downsamples to its time-axis resolution."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.select(
        "event_id", "value",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 21600.0)
        .cast("bigint").alias("bucket"))
    m = b.groupBy("bucket").agg(davg(F.col("value"), "avg_v"),
                                F.count(F.lit(1)).alias("n_points"))
    return (
        b.join(m, "bucket")
        .groupBy("bucket")
        .agg(F.expr("max_by(struct(event_id, value, n_points), "
                    "struct(abs(value - avg_v), -event_id))").alias("pk"))
        .select("bucket", F.col("pk.event_id").alias("event_id"),
                F.col("pk.value").alias("value"),
                F.col("pk.n_points").alias("n_points"))
    )


@query(
    "q_evt_funnel_windowed",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'view'
    AND e.ts > s.t0 AND e.ts <= s.t0 + INTERVAL 48 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 48 HOUR
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s) AS n_signed_up,
       (SELECT COUNT(*) FROM v) AS n_viewed_48h,
       (SELECT COUNT(*) FROM p) AS n_purchased_48h
""",
)
def q_evt_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel: signup → first view within 48 h →
    first purchase within 48 h OF THAT VIEW — the conversion-window
    semantics product analytics actually reports (q_evt_funnel is the
    any-time variant).  Each stage's anchor depends on the previous
    stage's timestamp, so the funnel is a chain of grouped joins rather
    than one conditional aggregate.

    Scale: every stage keys on user_id — the events shuffle and all
    three per-user stage relations share the same partitioning, so
    Catalyst reuses the exchange layout instead of re-shuffling; stage
    relations shrink monotonically (s ⊇ v ⊇ p) and join as broadcasts
    once small."""
    ev = load_table(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t0")))
    v = (ev.filter(F.col("event_type") == "view")
         .join(s, "user_id")
         .filter((F.col("ts") > F.col("t0"))
                 & (F.col("ts") <= F.col("t0") + F.expr("INTERVAL 48 HOURS")))
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(v, "user_id")
         .filter((F.col("ts") > F.col("t1"))
                 & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 48 HOURS")))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    return (s.agg(F.count(F.lit(1)).alias("n_signed_up"))
            .crossJoin(v.agg(F.count(F.lit(1)).alias("n_viewed_48h")))
            .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_48h"))))


@query(
    "q_evt_markov",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE ts IS NOT NULL
), trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n_trans,
       ROUND(CAST(n_trans AS DOUBLE)
             / SUM(n_trans) OVER (PARTITION BY prev_type), 6) AS p,
       CAST(RANK() OVER (PARTITION BY prev_type
                         ORDER BY n_trans DESC, next_type) AS INTEGER)
         AS next_rank
FROM trans
""",
)
def q_evt_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix: q_evt_pathing's bigram
    counts row-normalized into transition probabilities, with a
    per-source rank of next states.  The normalizing window runs over
    the |types|²-row transition table — one extra (tiny) shuffle after
    the heavy lifting; the ratio divides exact integers so ROUND 6 is
    deterministic in both engines."""
    trans = transition_counts(load_table(spark, sf_dir, "events"))
    wp = Window.partitionBy("prev_type")
    wr = Window.partitionBy("prev_type").orderBy(
        F.col("n_trans").desc(), "next_type")
    return trans.select(
        "prev_type", "next_type", "n_trans",
        F.round(F.col("n_trans").cast("double")
                / F.sum("n_trans").over(wp), 6).alias("p"),
        F.rank().over(wr).cast("int").alias("next_rank"),
    )


@query(
    "q_ts_ewma",
    oracle="""
WITH seq AS (
  SELECT event_id, user_id, value,
         LAG(value, 1) OVER w AS x1, LAG(value, 2) OVER w AS x2,
         LAG(value, 3) OVER w AS x3, LAG(value, 4) OVER w AS x4,
         LAG(value, 5) OVER w AS x5, LAG(value, 6) OVER w AS x6,
         LAG(value, 7) OVER w AS x7
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, value,
       (value * 1.0
        + COALESCE(x1 * 0.5, 0.0)      + COALESCE(x2 * 0.25, 0.0)
        + COALESCE(x3 * 0.125, 0.0)    + COALESCE(x4 * 0.0625, 0.0)
        + COALESCE(x5 * 0.03125, 0.0)  + COALESCE(x6 * 0.015625, 0.0)
        + COALESCE(x7 * 0.0078125, 0.0))
       / (1.0
          + CASE WHEN x1 IS NULL THEN 0.0 ELSE 0.5 END
          + CASE WHEN x2 IS NULL THEN 0.0 ELSE 0.25 END
          + CASE WHEN x3 IS NULL THEN 0.0 ELSE 0.125 END
          + CASE WHEN x4 IS NULL THEN 0.0 ELSE 0.0625 END
          + CASE WHEN x5 IS NULL THEN 0.0 ELSE 0.03125 END
          + CASE WHEN x6 IS NULL THEN 0.0 ELSE 0.015625 END
          + CASE WHEN x7 IS NULL THEN 0.0 ELSE 0.0078125 END)
         AS ewma
FROM seq
""",
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2, 8-tap truncated
    kernel) of each user's value stream.  The recursive EWMA is
    deliberately unrolled into a fixed 8-lag FIR so it stays a pure
    window expression (no iterative state): weights 2⁻ⁱ are exact
    binary fractions, multiplying a double by 2⁻ⁱ only shifts the
    exponent (exact), and both engines sum the 8 terms in the same
    written order — the resulting double is bit-identical with no
    rounding fudge.  Ramp-up rows renormalize by the present-weight
    sum.  Scale: one shuffle on user_id; 8 lags come from ONE window
    sort, not eight.  NULL-ts rows excluded — the ts-ordered-window
    contract (r13)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = ewma_num_den(w)
    return ev.select("event_id", "user_id", "value",
                     (num / den).alias("ewma"))


@query(
    "q_profile_key_skew",
    oracle="""
WITH sizes AS (
  SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY o_custkey
), hist AS (
  SELECT n, COUNT(*) AS freq FROM sizes GROUP BY n
), cum AS (
  SELECT n, freq,
         SUM(freq) OVER (ORDER BY n) AS cfreq,
         SUM(freq) OVER () AS n_keys,
         SUM(n * freq) OVER () AS n_rows
  FROM hist
)
SELECT CAST(MAX(n_keys) AS BIGINT) AS n_keys,
       CAST(MAX(n_rows) AS BIGINT) AS n_rows,
       MIN(n) AS min_per_key, MAX(n) AS max_per_key,
       MIN(CASE WHEN cfreq * 2   >= n_keys      THEN n END) AS p50,
       MIN(CASE WHEN cfreq * 10  >= n_keys * 9  THEN n END) AS p90,
       MIN(CASE WHEN cfreq * 100 >= n_keys * 99 THEN n END) AS p99,
       ROUND(CAST(MAX(n) AS DOUBLE) * MAX(n_keys) / MAX(n_rows), 6)
         AS skew_max_over_avg
FROM cum
""",
)
def q_profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the group-size distribution of
    orders.o_custkey — exact min/p50/p90/p99/max rows-per-key and a
    max/avg skew ratio, the numbers that decide salting / AQE skew-join
    before a big join.  Scalable exact percentiles: per-key counts
    collapse to a counts-of-counts histogram FIRST (|distinct sizes|
    rows — dozens at any scale), and the unpartitioned cumulative
    window runs over that tiny relation, never over the keys
    themselves.  Percentile picks compare pure integers (cfreq·m ≥
    q·n_keys) — no float thresholds to flake."""
    od = load_table(spark, sf_dir, "orders")
    sizes = od.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    cum = hist_cum(sizes, "n").withColumn(
        "n_rows", F.sum(F.col("n") * F.col("freq"))
        .over(Window.partitionBy()))
    return cum.agg(
        F.max("n_total").alias("n_keys"),
        F.max("n_rows").alias("n_rows"),
        F.min("n").alias("min_per_key"),
        F.max("n").alias("max_per_key"),
        hist_pick(2, 1, "n").alias("p50"),
        hist_pick(10, 9, "n").alias("p90"),
        hist_pick(100, 99, "n").alias("p99"),
        F.round(F.max("n").cast("double") * F.max("n_total")
                / F.max("n_rows"), 6).alias("skew_max_over_avg"),
    )


@query(
    "q_tpch_q6_forecast",
    oracle=f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-dominated aggregate — every predicate pushes to the parquet
    scan (year range, discount band, quantity cap), then one global
    2-phase sum.  At 100 TB this is the query whose cost is pure I/O;
    the plan must show PushedFilters and nothing else.  The discount
    band bounds are exact doubles (0.05/0.07 are the fixture's literal
    grid values; comparison semantics identical in both engines)."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24)))
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_items"))


@query(
    "q_tpch_q13_custdist",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
""",
)
def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): orders-per-customer histogram
    INCLUDING zero-order customers — the left outer join is the point
    (an inner join silently drops the idle cohort).  COUNT(o_orderkey)
    not COUNT(*): the null-extended row of an idle customer must count
    0, not 1 — the classic outer-join-count bug, encoded correctly in
    both engines (the oracle keeps the textbook join-then-count form).

    Round-9 shuffle fix: aggregate orders per custkey BEFORE the outer
    join — COUNT over a key is distributive, so joining customers to
    the pre-aggregated (custkey, cnt) relation (≤|customers| rows,
    map-side combined) and coalescing the idle cohort to 0 is
    value-identical to counting the 10×-larger join output.  The big
    orders relation now crosses its exchange already reduced.

    r13: on the custkey bucket layout (VERDICT r12 #6) the per-custkey
    pre-aggregate needs NO exchange at all (the scan arrives
    hash-partitioned on o_custkey) and the outer join is co-located
    with the bucketed customer scan; plain parquet falls back to the
    round-9 reduced-shuffle shape."""
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "customer", "orders", family="cust")
    cu = t["customer"]
    od = t["orders"]
    per_ord = (
        od.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("o_orderkey").alias("_cnt"))
    )
    per_cust = (
        cu.select("c_custkey")
        .join(per_ord, "c_custkey", "left_outer")
        .select(F.coalesce(F.col("_cnt"), F.lit(0).cast("long"))
                .alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


@query(
    "q_tpch_q17_small_qty",
    oracle=f"""
WITH thresholds AS (
  SELECT l_partkey AS t_partkey,
         0.5 * ({sql_dec2dbl('SUM(CAST(l_quantity AS DECIMAL(30,8)))')}
                / COUNT(*)) AS qty_cut
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_dec2dbl('SUM(CAST(l_extendedprice AS DECIMAL(30,8)))')}
         / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem
JOIN part       ON p_partkey = l_partkey
JOIN thresholds ON t_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < qty_cut
""",
)
def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lineitems under half
    their part's average quantity — the correlated average decorrelated
    into a per-part threshold relation joined back (one extra shuffle
    on partkey; Catalyst plans the subquery identically).  The
    threshold itself divides an exact decimal sum, and the comparison
    l_quantity < 0.5·avg stays off float edges because quantities are
    integral and averages have a /count denominator — a tie would need
    quantity·count = sum/0.5 exactly, which ROUND-free double math
    resolves identically in both engines.

    Round-9 shuffle fix: the per-part threshold depends ONLY on that
    part's own lineitems, and only Brand#1 parts survive the final
    join — so the threshold aggregate runs over the brand-semi-filtered
    lineitem (a broadcast semi at the scan, no shuffle), not the full
    table.  The oracle keeps the naive all-parts CTE; results are
    identical because non-brand thresholds were computed and thrown
    away.  At the 100× fixture this removes a full-lineitem shuffle
    (only ~1/|brands| of rows reach the partkey exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = (load_table(spark, sf_dir, "part")
          .filter(F.col("p_brand") == "Brand#1"))
    # pinned: the threshold aggregate AND the probe side both read
    # li_b, and Spark does no CSE across branches — unpinned, the scan
    # + semi join ran twice (review r11)
    li_b = pin(li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey,
                       "left_semi"))
    thresholds = (
        li_b.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((0.5 * (F.sum(F.col("l_quantity").cast(DEC)).cast("double")
                     / F.count(F.lit(1)))).alias("qty_cut"))
    )
    return (
        li_b.join(thresholds, li_b.l_partkey == thresholds.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
              / 7.0).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "q_tpch_q22_idle_rich",
    oracle=f"""
WITH avg_bal AS (
  SELECT {sql_dec2dbl('SUM(CAST(c_acctbal AS DECIMAL(30,8)))')}
         / COUNT(*) AS cut
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       {sql_dec2dbl('SUM(CAST(c_acctbal AS DECIMAL(30,8)))')} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > cut
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-08-01 00:00:00')
GROUP BY c_nationkey
""",
)
def q_tpch_q22_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), recency-adapted: customers
    with above-average positive balances and no orders in the final
    year of the fixture (the uniform order generator gives EVERY
    customer some lifetime order, so the literal no-orders-ever form is
    provably empty here), rolled up by nation.
    The anti join is the heart — Catalyst turns NOT EXISTS into a
    left-anti hash join (here on the broadcast DISTINCT custkey set of
    orders, the semi-join-reduction shape; at 100 TB the distinct
    custkeys of orders shuffle once and the anti join stays equi).  The
    scalar average broadcasts as a 1-row relation.

    r13: on the custkey bucket layout (VERDICT r12 #6) the buyers
    DISTINCT builds with zero exchange (scan pre-partitioned on
    o_custkey) and the at-scale anti join is co-located with the
    bucketed customer scan; plain parquet keeps the shuffled distinct."""
    from ..catalog import routed_tables

    t = routed_tables(spark, sf_dir, "customer", "orders", family="cust")
    cu = t["customer"]
    od = t["orders"]
    cut = (cu.filter(F.col("c_acctbal") > 0.0)
           .agg((F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
                 / F.count(F.lit(1))).alias("cut")))
    recent = F.lit("2000-08-01 00:00:00").cast("timestamp_ntz")
    buyers = (od.filter(F.col("o_orderdate") >= recent)
              .select(F.col("o_custkey")).distinct())
    return (
        cu.crossJoin(F.broadcast(cut))
        .filter(F.col("c_acctbal") > F.col("cut"))
        .join(buyers, cu.c_custkey == buyers.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
             .alias("totacctbal"))
    )


@query(
    "q_evt_conversion_time",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) FILTER (event_type = 'signup') AS t0
  FROM events GROUP BY user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.t0
  GROUP BY e.user_id
), d AS (
  -- elapsed-time floor from the microsecond delta, matching Spark's
  -- timestampdiff(SECOND) EXACTLY.  DuckDB's date_diff('second')
  -- counts SECOND-BOUNDARY CROSSINGS, which differs by 1 from the
  -- elapsed floor whenever frac(t1) < frac(t0) — true for 72/150
  -- converting users at sf0.01 (review r10); the hour bucketing only
  -- agreed because no diff landed on a 3600s multiple.
  SELECT CAST(FLOOR((epoch_us(p.t1) - epoch_us(s.t0)) / 3600000000.0)
              AS BIGINT) AS hrs
  FROM p JOIN s ON p.user_id = s.user_id
), hist AS (
  SELECT hrs, COUNT(*) AS freq FROM d GROUP BY hrs
), cum AS (
  SELECT hrs, SUM(freq) OVER (ORDER BY hrs) AS cfreq,
         SUM(freq) OVER () AS n
  FROM hist
)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       MIN(CASE WHEN cfreq * 2  >= n     THEN hrs END) AS p50_hours,
       MIN(CASE WHEN cfreq * 10 >= n * 9 THEN hrs END) AS p90_hours
FROM cum
""",
)
def q_evt_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: hours from first signup to first
    subsequent purchase, summarized as exact hour-grain percentiles via
    the counts-of-counts histogram (q_profile_key_skew's trick applied
    to a duration metric — the cumulative window runs over ≤ |distinct
    hour buckets| rows, never over users, so the percentile never
    triggers a global sort at any user count).  The duration is the
    ELAPSED-TIME floor of the microsecond delta on both engines:
    Spark's timestampdiff(SECOND) is that floor natively, and the
    oracle derives it from epoch_us — NOT date_diff('second'), whose
    boundary-crossing count differs by 1 for most fixture pairs
    (review r10)."""
    ev = load_table(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t0")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(s, "user_id")
         .filter(F.col("ts") > F.col("t0"))
         .groupBy("user_id").agg(F.min("ts").alias("t1"),
                                 F.min("t0").alias("t0")))
    hrs = F.floor(
        F.expr("timestampdiff(SECOND, t0, t1)") / 3600.0).cast("bigint")
    cum = hist_cum(p.select(hrs.alias("hrs")), "hrs")
    return cum.agg(
        F.max("n_total").cast("bigint").alias("n_converted"),
        hist_pick(2, 1, "hrs").alias("p50_hours"),
        hist_pick(10, 9, "hrs").alias("p90_hours"),
    )



@query(
    "q_graph_rank_2hop",
    oracle=f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), cdeg AS (
  SELECT c, COUNT(*) AS dc FROM edges GROUP BY c
), s1 AS (
  SELECT s, {sql_dsum9('1.0 / dc')} AS r
  FROM edges JOIN cdeg USING (c) GROUP BY s
), sdeg AS (
  SELECT s, COUNT(*) AS ds FROM edges GROUP BY s
), r1 AS (
  SELECT c, {sql_dsum9('r / ds')} AS rc
  FROM edges JOIN s1 USING (s) JOIN sdeg USING (s) GROUP BY c
)
SELECT c AS custkey, ROUND(rc, 6) AS rank_2hop
FROM r1
ORDER BY rc DESC, c
LIMIT 10
""",
)
def q_graph_rank_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics in relational form: two propagation
    hops of a PageRank-style score over the customer→supplier bipartite
    purchase graph (every customer starts at rank 1 and splits it over
    its suppliers; suppliers split their received mass back over their
    customers), top-10 customers by the round-trip rank.  Each hop is
    join + groupBy — the vertex-centric iteration mapped to shuffles,
    the shape any fixed-k iterative algorithm (PageRank, label
    propagation, SimRank) takes on Spark.  Rank sums use the dsum9
    rounded-term decimal discipline so accumulation is
    order-independent and the cross-engine hash exact; the per-edge
    quotients (1/deg, r/deg) are single correctly-rounded double ops,
    identical in both engines.  Scale: ONE edge-sized shuffle total
    (repartition by customer) — dedup, customer degree, and the final
    rank aggregate all reuse that partitioning exchange-free, and the
    supplier-side relations come back as a broadcast.  Trade, stated:
    the c-shuffle ships the PRE-dedup join output (forgoing map-side
    partial dedup) — right for this corpus (<3% duplicate edges); an
    edge list with heavy duplication would insert a distinct() before
    the repartition, buying map-side dedup for a second exchange."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Edge relation, PARTITIONED BY CUSTOMER (r9, VERDICT r8 #6):
    # hashpartitioning(c) satisfies the (c, s) clustering the dedup
    # aggregate requires, so the explicit repartition("c") is the ONE
    # edge-sized shuffle after the fact⋈fact join — the customer-degree
    # window, and the final per-customer rank aggregate, all reuse it
    # with no further exchange (broadcast joins preserve the streamed
    # side's partitioning).  The old shape shuffled the edge relation
    # four more times (distinct by (c,s), degree join per side, hop
    # groupBys); measured at the 100× fixture the two hops drop
    # 23.4 → 12.2 s.  Pinned because three branches read it.
    edges = pin(od.join(li, od.o_orderkey == li.l_orderkey)
                .select(F.col("o_custkey").alias("c"),
                        F.col("l_suppkey").alias("s"))
                .repartition("c")
                .distinct())
    # Customer degree as a partition-window count: same exchange-free
    # pipeline as the hop-2 aggregate, values row-identical to the
    # old cdeg join.  Supplier-side relations are |suppliers|-sized —
    # computed with map-side partial aggregation (the shuffle ships
    # per-partition partials, not edges) and BROADCAST back.
    s1 = (edges.withColumn("dc", F.count(F.lit(1)).over(
              Window.partitionBy("c")))
          .groupBy("s")
          .agg(dsum9(F.lit(1.0) / F.col("dc")).alias("r")))
    sdeg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    # stats gate (review r11): the supplier-grain rank relation is one
    # row per supplier, which SCALES with SF — same gate q5/q7/q8
    # apply to supplier-sized broadcasts
    srank = s1.join(sdeg, "s")
    if fits_broadcast(sf_dir, "supplier"):
        srank = F.broadcast(srank)
    r1 = (edges.join(srank, "s")
          .groupBy("c")
          .agg(dsum9(F.col("r") / F.col("ds")).alias("rc")))
    return (r1.select(F.col("c").alias("custkey"),
                      F.round("rc", 6).alias("rank_2hop"),
                      F.col("rc").alias("_o"))
            .orderBy(F.col("_o").desc(), "custkey")
            .limit(10)
            .drop("_o"))


@query(
    "q_evt_active_users",
    oracle="""
WITH du AS (
  -- known-time, identifiable users only (review r13): a NULL ts has no
  -- day, and the unguarded shape counted a NULL user in dau (COUNT(*))
  -- but not wau/mau (COUNT(DISTINCT)) -- and the Spark sweep-line
  -- counted it everywhere
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), days AS (
  SELECT DISTINCT day FROM du
), dau AS (
  SELECT day, COUNT(*) AS dau FROM du GROUP BY day
), w7 AS (
  SELECT du.day + CAST(t.i AS INTEGER) AS day, du.user_id
  FROM du, unnest(generate_series(0, 6)) AS t(i)
), wau AS (
  SELECT day, COUNT(DISTINCT user_id) AS wau FROM w7 GROUP BY day
), w30 AS (
  SELECT du.day + CAST(t.i AS INTEGER) AS day, du.user_id
  FROM du, unnest(generate_series(0, 29)) AS t(i)
), mau AS (
  SELECT day, COUNT(DISTINCT user_id) AS mau FROM w30 GROUP BY day
)
SELECT d.day, dau.dau, wau.wau, mau.mau
FROM days d
JOIN dau ON dau.day = d.day
JOIN wau ON wau.day = d.day
JOIN mau ON mau.day = d.day
""",
)
def q_evt_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU: daily actives plus trailing-7-day and
    trailing-30-day distinct users per day.  COUNT(DISTINCT) over a
    sliding window has no window-function form in Spark; the scalable
    shape is dedupe-then-SWEEP — collapse events to the (day, user)
    relation ONCE, merge each user's active days into disjoint
    coverage intervals per horizon (one user-partitioned window pass
    serves both), and recover each day's count from ±1 interval
    boundary deltas under a running sum over the tiny day spine.  At
    100 TB the event→(day,user) collapse is the only full-data
    shuffle and the interval pass the only |du|-sized one; nothing
    fans out 30× and no sliding COUNT(DISTINCT) is ever materialized.
    Reported days = days that actually appear (both engines join the
    same day spine, so trailing ghost days past the last event drop
    out identically)."""
    ev = load_table(spark, sf_dir, "events")
    # known-time, identifiable users only -- mirrors the oracle (r13)
    du = (ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
          .select(F.col("ts").cast("date").alias("day"), "user_id")
          .distinct())
    # Sweep-line rewrite (r9, VERDICT r8 #6): the old shape exploded
    # every (day, user) pair 30× and ran COUNT(DISTINCT) over the
    # fan-out — 30·|du| rows through a shuffle plus the distinct
    # expansion.  A user counts toward WAU(d) iff d lies in the union
    # of [a, a+6] over the user's active days a — so merge each user's
    # days into maximal covered INTERVALS (gap > horizon starts a new
    # one; merged intervals are disjoint, hence no double count), emit
    # ±1 boundary deltas, and read the per-day count off a running sum
    # over the tiny day spine.  The only |du|-sized work is ONE
    # user-partitioned window pass (both horizons' interval ids come
    # from the same sort); everything after is O(intervals + days).
    # Measured at the 100× fixture: 10.2 → 3.5 s.
    w = Window.partitionBy("user_id").orderBy("day")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = du.select("day", "user_id", F.lag("day").over(w).alias("prev"))
    new_iv = lambda span: F.when(  # noqa: E731
        F.col("prev").isNull()
        | (F.col("day") > F.date_add("prev", span - 1)), 1).otherwise(0)
    # Pin the windowed relation: it feeds DAU plus both interval
    # branches and Spark does no CSE across branches.
    marked = pin(seq.select(
        "day", "user_id",
        F.sum(new_iv(7)).over(wrun).alias("i7"),
        F.sum(new_iv(30)).over(wrun).alias("i30")))
    dau = marked.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def deltas(icol: str, span: int) -> DataFrame:
        # Both boundary rows (+1 at the interval start, -1 past its
        # covered end) come out of ONE pass over the interval aggregate
        # via a 2-element explode — selecting the boundaries separately
        # would recompute the aggregate per side (no CSE across
        # DataFrame branches).
        iv = (marked.groupBy("user_id", icol)
              .agg(F.min("day").alias("s"),
                   F.date_add(F.max("day"), span - 1).alias("e")))
        return (iv.select(F.explode(F.array(
                    F.struct(F.col("s").alias("day"), F.lit(1).alias("d")),
                    F.struct(F.date_add("e", 1).alias("day"),
                             F.lit(-1).alias("d")))).alias("x"),
                F.lit(span).alias("h"))
                .select("x.day", "x.d", "h"))

    # Both horizons' boundary deltas plus the day spine (delta 0, so
    # every reported day has a running-sum row) fold through ONE tiny
    # (day)-grain aggregate and ONE global window — |days|-scale rows.
    wd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    counts = (
        deltas("i7", 7).unionAll(deltas("i30", 30))
        .unionAll(dau.select("day", F.lit(0).alias("d"),
                             F.lit(0).alias("h")))
        .groupBy("day")
        .agg(F.sum(F.when(F.col("h") == 7, F.col("d")).otherwise(0))
             .alias("d7"),
             F.sum(F.when(F.col("h") == 30, F.col("d")).otherwise(0))
             .alias("d30"))
        .select("day", F.sum("d7").over(wd).alias("wau"),
                F.sum("d30").over(wd).alias("mau")))
    return (dau.join(counts, "day")
            .select("day", "dau", "wau", "mau"))


@query(
    "q_evt_growth_accounting",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), seq AS (
  SELECT user_id, day,
         LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
         MIN(day) OVER (PARTITION BY user_id) AS first_day
  FROM du
), states AS (
  SELECT day,
         CASE WHEN day = first_day THEN 'new'
              WHEN prev_day = day - 1 THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM seq
)
SELECT day, state, COUNT(*) AS n_users
FROM states GROUP BY day, state
""",
)
def q_evt_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active (day, user) classified as NEW
    (first day ever), RETAINED (also active the previous calendar day)
    or RESURRECTED (returning after a gap) — the daily growth ledger
    behind every DAU chart (churn falls out as yesterday's DAU minus
    today's retained).  One dedup shuffle to (day, user), one window
    pass per user's day sequence (LAG + running MIN share the sort),
    then a tiny (days × 3) rollup.  Pure date/integer logic — nothing
    to round."""
    ev = load_table(spark, sf_dir, "events")
    du = (ev.select(F.col("ts").cast("date").alias("day"), "user_id")
          .distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    wall_u = (Window.partitionBy("user_id")
              .orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    seq = du.select(
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.min("day").over(wall_u).alias("first_day"))
    state = (F.when(F.col("day") == F.col("first_day"), "new")
             .when(F.col("prev_day") == F.date_sub("day", 1), "retained")
             .otherwise("resurrected"))
    return (seq.select("day", state.alias("state"))
            .groupBy("day", "state")
            .agg(F.count(F.lit(1)).alias("n_users")))


@query(
    "q_ts_cusum",
    oracle=f"""
WITH s AS (
  SELECT event_id, user_id, value, ts,
         SUM(CAST(value - 4.0 AS DECIMAL(30,8)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_t
  FROM events
  WHERE ts IS NOT NULL
)
SELECT event_id, user_id, value,
       {sql_dec2dbl('''CAST(s_t AS DECIMAL(30,8))
            - (CASE WHEN m < CAST(0 AS DECIMAL(30,8))
                    THEN m ELSE CAST(0 AS DECIMAL(30,8)) END)''')}
         AS cusum
FROM (SELECT *, CAST(MIN(s_t) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(30,8)) AS m FROM s) x
""",
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection per user: the textbook recursion
    C_t = max(0, C_{{t-1}} + (x_t − k)) looks un-windowable, but the
    closed form C_t = S_t − min(0, min_{{j≤t}} S_j) (S = drift-adjusted
    prefix sum) turns it into TWO cumulative windows over one sort —
    the alarm statistic behind drift/level-shift monitors, distributed
    with a single user_id shuffle.  Accumulation is exact decimal
    (window SUM order is engine-internal — DuckDB uses segment trees —
    so float prefix sums would NOT hash-match), per-row x−k stays one
    correctly-rounded double op, and the final decimal subtraction
    routes through the VARCHAR cast discipline.  NULL-ts rows
    excluded — the ts-ordered-window contract (r13)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = ev.select(
        "event_id", "user_id", "value", "ts",
        F.sum((F.col("value") - 4.0).cast(DEC)).over(w)
         .cast(DEC).alias("s_t"))
    zero = F.lit(0).cast(DEC)
    run_min = F.min("s_t").over(w).cast(DEC)
    # CASE not LEAST in the twin SQL: DuckDB 1.0's LEAST over decimals
    # silently unifies to DOUBLE, resurrecting the float drift the
    # decimal discipline exists to kill (caught by the oracle, 219/10k
    # rows one ulp off); Spark's least is decimal-preserving but the
    # conditional keeps both sides structurally identical.
    return s.select(
        "event_id", "user_id", "value",
        (F.col("s_t")
         - F.when(run_min < zero, run_min).otherwise(zero))
        .cast("double").alias("cusum"))


@query(
    "q_ts_drawdown",
    oracle=f"""
WITH s AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(value AS DECIMAL(30,8)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
  FROM events
), peaked AS (
  SELECT user_id,
         CAST(bal AS DECIMAL(30,8)) AS bal,
         CAST(MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DECIMAL(30,8)) AS peak
  FROM s
)
SELECT user_id,
       {sql_dec2dbl('MAX(peak - bal)')} AS max_drawdown,
       {sql_dec2dbl('MAX(bal)')} AS peak_balance
FROM peaked
GROUP BY user_id
""",
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: the largest peak-to-trough drop of the
    cumulative value series — q_ts_cusum's sibling from the same
    closed-form family (running-MAX instead of running-MIN: drawdown_t
    = max_{{j≤t}} S_j − S_t, answer = max_t of that), so the
    "look back over every prior peak" recursion is again two cumulative
    windows over ONE per-user sort plus a plain aggregate.  Exact
    decimal throughout (window accumulation order is engine-internal);
    the only doubles are the final VARCHAR-routed casts."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = ev.select(
        "user_id", "ts", "event_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast(DEC).alias("bal"))
    peaked = s.select(
        "user_id", "bal", F.max("bal").over(w).cast(DEC).alias("peak"))
    return peaked.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("bal")).cast("double")
         .alias("max_drawdown"),
        F.max("bal").cast("double").alias("peak_balance"))


@query(
    "q_evt_basket_lift",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (
  SELECT COUNT(DISTINCT user_id) AS n_users FROM events
), ta AS (
  SELECT event_type, COUNT(*) AS n_single FROM ut GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_ab,
       ROUND(CAST(n_ab AS DOUBLE) / n_users, 6) AS support,
       ROUND(CAST(n_ab AS DOUBLE) * n_users
             / (CAST(na.n_single AS DOUBLE) * nb.n_single), 6) AS lift
FROM pairs
JOIN ta na ON na.event_type = type_a
JOIN ta nb ON nb.event_type = type_b
CROSS JOIN n
""",
)
def q_evt_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: support and lift for every pair of
    event types appearing in the same user's history — the association
    signal (lift > 1 ⇒ types attract) behind recommendation and
    bundling analyses.  The user×type relation dedupes FIRST, so the
    per-user self-join is bounded by |types|² per user regardless of
    event volume; the singles/pair/total relations are all tiny and
    broadcast.  Every ratio derives from integer counts — the double
    divides are identical in both engines, ROUND 6 seals it."""
    ev = load_table(spark, sf_dir, "events")
    # Sweep-scoped pin (round-7 discipline + ADVICE r7): ut feeds four
    # branches and can be |users|·|types| rows at scale — serialized,
    # spillable, released when the next sweep key is invoked.
    ut = pin(ev.select("user_id", "event_type").distinct())
    n = ut.agg(F.countDistinct("user_id").alias("n_users"))
    ta = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_single"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (a.join(b, "user_id")
             .filter(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("n_ab")))
    na = ta.select(F.col("event_type").alias("type_a"),
                   F.col("n_single").alias("n_a"))
    nb = ta.select(F.col("event_type").alias("type_b"),
                   F.col("n_single").alias("n_b"))
    return (pairs.join(F.broadcast(na), "type_a")
            .join(F.broadcast(nb), "type_b")
            .crossJoin(F.broadcast(n))
            .select(
                "type_a", "type_b", "n_ab",
                F.round(F.col("n_ab").cast("double") / F.col("n_users"), 6)
                 .alias("support"),
                F.round(F.col("n_ab").cast("double") * F.col("n_users")
                        / (F.col("n_a").cast("double") * F.col("n_b")), 6)
                 .alias("lift")))


@query(
    "q_ts_zscore_rolling",
    oracle=f"""
WITH m AS (
  SELECT event_id, user_id, value,
         COUNT(*) OVER w AS n,
         {sql_dec2dbl('SUM(CAST(value AS DECIMAL(30,8))) OVER w')} AS s1,
         {sql_dec2dbl('SUM(CAST(value * value AS DECIMAL(30,8))) OVER w')}
           AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, value,
       ROUND((value - s1 / n)
             / sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 1e-12)), 6)
         AS rolling_z
FROM m WHERE n >= 20
""",
)
def q_ts_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score: each value scored against its user's trailing
    20-sample mean/σ — the LOCAL anomaly detector (a level shift makes
    global z-scores blind; rolling moments adapt).  The windowed
    moments are exact decimal sums cast once to double (window
    accumulation order is engine-internal, so float frame-sums would
    not hash-match); the z arithmetic is then identical IEEE ops in
    both engines, GREATEST guards the σ→0 constant-window edge, and
    ramp-up rows (frame < 20 samples) are excluded so every score uses
    a full window.  One shuffle on user_id; both moment sums and the
    count come from ONE frame pass."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-19, Window.currentRow))
    m = ev.select(
        "event_id", "user_id", "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(DEC)).over(w)
         .cast("double").alias("s2"))
    mu = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mu * mu, F.lit(1e-12))
    return (m.filter(F.col("n") >= 20)
            .select("event_id", "user_id", "value",
                    F.round((F.col("value") - mu) / F.sqrt(var), 6)
                    .alias("rolling_z")))
