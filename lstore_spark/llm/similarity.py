"""§2.10 Similarity search over the embedding column (array<float>[64]).

Brute-force exact cosine is the correctness baseline (oracle-checked);
the LSH-bucketed variant is the 100 TB scale path (candidate generation
via equi-join on bucket keys instead of a crossJoin).

Numeric discipline: float32 elements widen to double *before* any
arithmetic in both engines; the final cosine is ROUND(...,6) in both so
summation-order ulps cannot flip the hash.  Vectors in the fixture are
pre-normalized (‖v‖≈1) but norms are still computed — the operators must
work for arbitrary input.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import EMBEDDING_DIM, load_table, table_rows
from ..registry import pin, query

# ---- shared Spark-side vector expressions (HOFs — no UDF, JVM-side) ----


def _dot(a: str, b: str) -> Column:
    return F.expr(f"""
        aggregate(
          zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
    """)


def _norm(a: str) -> Column:
    return F.sqrt(F.expr(f"""
        aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
    """))


def cosine(a: str, b: str) -> Column:
    # try_divide: a zero vector (norm 0 — in-domain, counted by
    # q_llm_emb_norm_stats) must yield NULL cosine — folding into the
    # module's pytest-pinned NULL-vector degrade-to-dropped path — not
    # throw DIVIDE_BY_ZERO under Spark 4's ANSI default (review r10).
    return F.round(F.try_divide(_dot(a, b), _norm(a) * _norm(b)), 6)


def cosine_with_norms(a: str, b: str, na: str, nb: str) -> Column:
    """cosine() with the two norms precomputed as columns — same
    arithmetic (dot / (na·nb), rounded at 6), but each side's norm is
    evaluated once per ROW instead of once per PAIR.  For |Q| queries ×
    |C| corpus the norm HOFs drop from 2·|Q|·|C| to |Q|+|C|.
    Zero-norm → NULL via try_divide, same contract as cosine()."""
    return F.round(F.try_divide(_dot(a, b), F.col(na) * F.col(nb)), 6)


def partitioned_topk(scored: DataFrame, key: str, k: int,
                     payload: list[str] | None = None) -> DataFrame:
    """Exact per-key top-k without a global per-key sort (VERDICT r1 #5).

    A plain ``row_number() OVER (PARTITION BY key)`` funnels every scored
    candidate for a key into one task — with 10 query keys the whole
    corpus's candidates land on 10 partitions.  Instead:

    1. partial top-k per (input partition, key): ``slice(sort_array(
       collect_list(struct)), 1, k)`` — the heavy shuffle spreads over
       n_partitions × n_keys groups, so no task ever holds more than one
       input partition's candidates for one key;
    2. merge: flatten the ≤ n_partitions × k survivors per key and slice
       again — a tiny aggregate.

    Sort key is (cos_sim DESC, cand_id ASC) via struct ordering with a
    negated id, the same total tie-break as the oracle's ROW_NUMBER.
    Returns (key, rank, cos_sim, cand_id, *payload), rank 1-based.
    """
    payload = payload or []
    item = F.struct(
        F.col("cos_sim"), (-F.col("cand_id")).alias("_negid"),
        F.col("cand_id"), *[F.col(c) for c in payload])
    part = (
        scored.groupBy(F.spark_partition_id().alias("_pid"), key)
        .agg(F.slice(F.sort_array(F.collect_list(item), asc=False), 1, k)
             .alias("_topk"))
    )
    merged = (
        part.groupBy(key)
        .agg(F.slice(F.sort_array(F.flatten(F.collect_list("_topk")), asc=False),
                     1, k).alias("_topk"))
    )
    return (
        merged.select(key, F.posexplode("_topk").alias("_pos", "_it"))
        .select(key, (F.col("_pos") + 1).alias("rank"),
                F.col("_it.cos_sim").alias("cos_sim"),
                F.col("_it.cand_id").alias("cand_id"),
                *[F.col(f"_it.{c}").alias(c) for c in payload])
    )


def evaluate_once(udf):
    """Mark a corpus-wide pandas UDF nondeterministic, so that Catalyst
    evaluates it in exactly one Python-eval node.

    A filter on the UDF's output (an explicit ``isNotNull``, or the
    ``isnotnull`` Catalyst infers for an inner-join key) is pushed below
    a deterministic projection by inlining the UDF call into it.
    ExtractPythonUDFs then plans the UDF twice over the same input: once
    under the filter and once in the projection above it, a full extra
    pass over the corpus.  A nondeterministic projection is never
    inlined, so the filter stays above the one evaluation.  The UDFs
    remain pure functions of their input; results do not change."""
    return udf.asNondeterministic()


def read_query_slice(sf_dir: str, bound: int = 10):
    """Query batch (vec_id < bound) via a driver-side pyarrow read, not
    a Spark job: it is a handful of rows of a local parquet file, and
    at 100 TB the query batch arrives driver-side anyway.  float32 →
    float64 is exact (same as the JVM CAST).  Well-formed queries only
    (``well_formed_rows``): every oracle restricts its query side the
    same way, so a dropped row is absent from BOTH engines.  Sorted by
    vec_id."""
    import os

    import pyarrow.parquet as pq
    qt = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                       columns=["vec_id", "embedding"],
                       filters=[("vec_id", "<", bound)]).to_pandas()
    pos, _ = well_formed_rows(qt.embedding, EMBEDDING_DIM)
    return qt.iloc[pos].sort_values("vec_id")


def all_pairs_cosine_udf(M):
    """Factory: pandas UDF mapping an embedding column to the array of
    RAW cosines against every row of ``M`` (n_targets × dim).

    THE bit-parity-critical fold (r8, one copy in-tree by design): dots
    and norms accumulate LEFT-TO-RIGHT over the dimension axis with
    elementwise numpy ops only (one IEEE mul + one IEEE add per element
    per step — no BLAS matmul, no pairwise reduction, no FMA), so every
    value is bit-identical to the cosine()/aggregate(zip_with) HOF fold
    (asserted unrounded over all sf0.01 pairs in tests/test_llm.py).
    The hash-critical ROUND(·, 6) stays with the CALLER as a JVM
    expression — Spark rounds HALF_UP on the exact decimal expansion,
    numpy rounds half-even on an approximation.  NULL/ragged rows map
    to NULL (callers' explodes drop them); a ZERO-NORM vector on either
    side maps that pair's cosine to NULL, matching DuckDB's x/0.0 →
    NULL (review r11: the raw numpy divide produced NaN, which Spark
    ranks ABOVE every real candidate — a zero vector would have been
    rank 1 for every query)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType

    M = np.asarray(M, dtype=np.float64)
    n_t, dim = M.shape
    tacc = np.zeros(n_t)
    for d in range(dim):
        tacc = tacc + M[:, d] * M[:, d]
    tn = np.sqrt(tacc)

    @F.pandas_udf(ArrayType(DoubleType()))
    def cos_all(vec):
        # a degenerate row maps to NULL (posexplode emits nothing),
        # matching the oracles' well-formed restriction
        pos, V = well_formed_rows(vec, dim)
        dots = np.zeros((len(V), n_t))
        nacc = np.zeros(len(V))
        for d in range(dim):
            col = V[:, d]
            nacc = nacc + col * col
            dots = dots + col[:, None] * M[None, :, d]
        denom = np.sqrt(nacc)[:, None] * tn[None, :]
        cos = np.divide(dots, denom,
                        out=np.full_like(dots, np.nan),
                        where=denom != 0)
        out = [None] * len(vec)
        for i, row in zip(pos, cos):
            if np.isnan(row).any():  # zero-norm pair(s): NULL them
                out[i] = [None if np.isnan(x) else float(x) for x in row]
            else:
                out[i] = row
        return pd.Series(out)

    return cos_all


# DuckDB twin: dot/norms via an index join over generate_series, rounded
# identically.  (list_cosine_similarity exists but its internal float32
# accumulation order is unspecified; the explicit form pins semantics.)
def duck_pair_cosine(a: str = "a", b: str = "b") -> str:
    """THE pair-cosine SQL expression — flat NULL-skipping SUM dot over
    a pre-exploded dimension index ``i``, DOUBLE-widened terms, ROUND
    at 1e-6.  ONE copy in-tree (review r13): the embcos / semantic-dup /
    portable-LSH oracles each hand-carried this 6-line block, and a
    rounding-grain or widening change in one copy would silently
    desynchronize the family."""
    return f"""ROUND(
           SUM(CAST({a}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE))
           / (sqrt(SUM(CAST({a}.embedding[i] AS DOUBLE) * CAST({a}.embedding[i] AS DOUBLE)))
              * sqrt(SUM(CAST({b}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))),
           6)"""


_DUCK_PAIRS = f"""
  SELECT a.vec_id AS {{ida}}, b.vec_id AS {{idb}},
         {duck_pair_cosine()} AS cos_sim
  FROM {{rel}} a
  JOIN {{rel}} b ON {{pair_cond}}
  CROSS JOIN generate_series(1, 64) AS g(i)
  GROUP BY a.vec_id, b.vec_id
"""

# ---- the well-formed-vector rule: oracle, JVM and numpy forms ----

# Oracle form, prepended to every _DUCK_PAIRS oracle (review r12): the
# SUM-based dot silently SKIPS NULL terms, so a ragged or NULL-element
# vector got a real partial-dot cosine from DuckDB while every Spark
# path drops it — restricting both engines to well-formed vectors makes
# 'degenerate rows drop' the single shared contract.
_WF_CTE = """wf_embeddings AS (
  SELECT * FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
)"""


def wf_vectors(df: DataFrame) -> DataFrame:
    """JVM form: well-formed corpus vectors only — non-NULL, exactly
    ``EMBEDDING_DIM`` elements, no NULL element.  The degenerate rest
    degrades to DROPPED (the matryoshka/pq_encode contract, review r12)
    — the SQL twin of this guard is the two-line WHERE every assignment
    oracle's vec CTE carries (review r13).  A NaN element is not NULL,
    so a NaN-element vector is kept."""
    return df.filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == EMBEDDING_DIM)
        & (F.size(F.filter("embedding", lambda x: x.isNull())) == 0))


def well_formed_rows(vals, dim: int):
    """Numpy form: ``(positions, matrix)`` for the well-formed rows of
    ``vals`` (any sequence of vectors, e.g. an Arrow batch's pandas
    Series): their ascending indices in ``vals`` and their float64
    stack, shape ``(len(positions), dim)``.  Every Arrow-batched vector
    kernel takes its batch through here and scatters its results back
    by position; every other row's output is NULL.

    A NaN element counts as NULL here, because Arrow hands a NULL
    element to pandas as NaN.  So a NaN-element vector that
    ``wf_vectors`` keeps is dropped here: ``assign_nearest`` gives it
    NULL cosines (``test_ivf_assign_nan_element_vector_gets_null_cosine``)."""
    import numpy as np

    rows = [(i, v) for i, v in enumerate(vals)
            if v is not None and len(v) == dim
            and not np.isnan(np.asarray(v, dtype=np.float64)).any()]
    pos = np.array([i for i, _ in rows], dtype=np.intp)
    return pos, np.asarray([v for _, v in rows],
                           dtype=np.float64).reshape(len(rows), dim)


@query(
    "q_llm_sim_cosine_topk",
    oracle=f"""
WITH {_WF_CTE},
pairs AS (
  {_DUCK_PAIRS.format(ida="query_id", idb="cand_id", rel="wf_embeddings",
                      pair_cond="a.vec_id < 10 AND b.vec_id >= 10")}
)
SELECT query_id, cand_id, cos_sim, rn AS rank
FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rn
  FROM pairs
) WHERE rn <= 5
""",
)
def q_llm_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (k=5) for 10 query vectors, then
    two-stage partial top-k (``partitioned_topk`` — no global per-query
    sort, so no task ever absorbs the whole corpus's candidates).  This
    is the ANN *baseline*: at 100 TB the corpus side streams (one
    scan), queries ride the UDF closure — cost O(|corpus|·|queries|),
    exactly right for small query batches; q_llm_sim_lsh_topk is the
    sublinear path for large ones.

    Vectorized r8 (VERDICT r7 #4) WITHOUT touching the hash: the old
    per-pair ``aggregate(zip_with(...))`` dot is interpreted (HOFs
    never codegen, ~7 µs/eval — the LSH/IVF lesson) and was ~80% of the
    key's wall.  The pandas UDF below computes every query dot per
    corpus row as a LEFT-TO-RIGHT fold over the dimension axis using
    only ELEMENTWISE numpy ops (one IEEE mul + one IEEE add per element
    per step, same order as the HOF fold; no BLAS matmul, no pairwise
    reduction, no FMA contraction), so every dot and norm is
    BIT-IDENTICAL to the old fold on every row.  The hash-critical
    ROUND(·, 6) stays a JVM expression (Spark rounds HALF_UP on the
    exact decimal expansion; numpy rounds half-even on an approximation
    — the one step that must NOT move into the UDF).  Eager note: the
    10-row query slice is collected at DataFrame-build time (the
    documented ivf/LSH closure pattern)."""
    return _brute_force_topk(spark, sf_dir, F.col("vec_id") >= 10)


def _brute_force_topk(spark: SparkSession, sf_dir: str,
                      corpus_pred: Column) -> DataFrame:
    """THE exact brute-force top-k pipeline (query slice → vectorized
    cosine UDF → posexplode → JVM ROUND → partitioned_topk), shared by
    q_llm_sim_cosine_topk and q_llm_sim_filtered_topk — the two keys
    differed only in the corpus predicate, ~15 hand-kept duplicate
    lines of bit-parity-critical plumbing (review r12)."""
    import numpy as np

    em = load_table(spark, sf_dir, "embeddings")
    qt = read_query_slice(sf_dir)
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in qt.embedding])
    qids = [int(v) for v in qt.vec_id]
    cos_all = all_pairs_cosine_udf(Q)

    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    pairs = (
        em.filter(corpus_pred)
        .select(F.col("vec_id").alias("cand_id"),
                F.posexplode(cos_all("embedding")).alias("qi", "raw"))
        .select(F.element_at(qid_arr, F.col("qi") + 1).alias("query_id"),
                "cand_id", F.round("raw", 6).alias("cos_sim"))
    )
    return partitioned_topk(pairs, "query_id", 5).select(
        "query_id", "cand_id", "cos_sim", "rank")


@query(
    "q_llm_sim_filtered_topk",
    oracle=f"""
WITH {_WF_CTE},
pairs AS (
  {_DUCK_PAIRS.format(ida="query_id", idb="cand_id", rel="wf_embeddings",
                      pair_cond="a.vec_id < 10 AND b.vec_id >= 10 AND b.label IN (2, 5, 7)")}
)
SELECT query_id, cand_id, cos_sim, rn AS rank
FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rn
  FROM pairs
) WHERE rn <= 5
""",
)
def q_llm_sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the production shape every vector store
    names "metadata filtering"): top-k cosine per query over ONLY the
    corpus rows passing an attribute predicate (``label IN (2,5,7)``).
    The predicate is applied BEFORE any distance arithmetic and reaches
    the parquet scan as a pushed filter (row-group stats prune; with a
    label-partitioned layout it becomes partition pruning) — the
    pre-filter strategy, correct for selective predicates.  At 100 TB
    the alternative post-filter strategy (search a global index, then
    drop non-matching results) loses recall at exactly the selectivity
    where pre-filtering gets cheap; per-label partitioned indexes
    (q_llm_index_build's partitionBy layout) are the sublinear hybrid.

    Same bit-parity machinery as q_llm_sim_cosine_topk: elementwise
    left-to-right numpy fold (bit-identical to the HOF fold), JVM-side
    ROUND, two-stage partitioned_topk — the filter changes WHICH rows
    are scored, never a value."""
    return _brute_force_topk(
        spark, sf_dir,
        (F.col("vec_id") >= 10) & F.col("label").isin(2, 5, 7))


_TAU_PAIRS = 0.30


@query(
    "q_llm_sim_threshold_pairs",
    oracle=f"""
WITH {_WF_CTE},
pairs AS (
  {_DUCK_PAIRS.format(ida="id_a", idb="id_b", rel="wf_embeddings",
                      pair_cond="a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200")}
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {_TAU_PAIRS}
""",
)
def q_llm_sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity self-join (cos ≥ τ) on a bounded slice, candidates via
    hyperplane LSH (equi-join on (band, bucket) — no crossJoin) with
    exact cosine re-rank; the all-pairs DuckDB oracle hash-verifies the
    result, certifying the LSH stage's recall at test scale.  τ=0.30
    yields a non-trivial result on the random-unit-vector fixture (max
    pairwise cos ≈ 0.51); at such a low τ the size-adaptive formula
    honestly allocates many cheap 1-bit bands — at a production τ≈0.95
    it allocates selective multi-bit bands instead.

    r14 note (VERDICT r13 #2, examined and REJECTED with numbers): a
    closure re-rank — pair cosines via a pandas UDF over the candidate
    ids, vectors riding the closure from a driver-side slice read, the
    two broadcast joins and their embedding scans gone — was built,
    parity-verified (exceptAll 0 both ways, oracle hash-green at all
    three SFs) and interleaved-A/B'd at sf0.1:
    scripts/ab_threshold_pairs_r14.json — join form median 1.27 s /
    min 1.11 s vs closure 2.12 s / 1.64 s (7 reps; a second 5-rep
    window read 2.45/1.12 vs 4.47/1.51).  At this key's bounded
    200-row slice the re-rank joins are near-free broadcasts and the
    HOF folds are ~20k pairs, so the added ArrowEvalPython stage's
    fixed Python-boundary cost dominates what it saves — the same
    per-pair-payload inversion q_llm_sim_lsh_topk measured in r9.  The
    join form stays; it is also not a 100 TB scale path (the slice is
    bounded by construction — candidate generation is the part that
    scales)."""
    em = (load_table(spark, sf_dir, "embeddings")
          .filter((F.col("vec_id") < 200)
                  & (F.size("embedding") == 64)
                  & (F.expr("size(filter(embedding, x -> x IS NULL))")
                     == 0)))
    # Sizing estimate from catalog stats + the query's own slice bound —
    # no pre-scan (VERDICT r2 item 7); an upper bound only makes the
    # recall formula allocate ≥ as many bands (conservative direction).
    n = min(200, table_rows(sf_dir, "embeddings"))
    cands = hyperplane_candidate_pairs(
        em, "vec_id", "embedding", n_rows=n,
        tau=_TAU_PAIRS, target_recall=1.0 - 1e-6)
    # per-ROW norm precompute (cosine_with_norms), not per-pair
    # cosine(): the interpreted norm HOFs ran 2|pairs| times instead of
    # |rows| times — the exact saving the helper's docstring quantifies
    # and the sibling lsh_topk re-rank already takes (review r12)
    a = em.select(F.col("vec_id").alias("id_a"),
                  F.col("embedding").alias("a_emb"),
                  _norm("embedding").alias("a_norm"))
    b = em.select(F.col("vec_id").alias("id_b"),
                  F.col("embedding").alias("b_emb"),
                  _norm("embedding").alias("b_norm"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b",
                cosine_with_norms("a_emb", "b_emb", "a_norm", "b_norm")
                .alias("cos_sim"))
        .filter(F.col("cos_sim") >= _TAU_PAIRS)
    )


@query(
    "q_llm_knn_label",
    oracle=f"""
WITH {_WF_CTE},
pairs AS (
  {_DUCK_PAIRS.format(ida="query_id", idb="cand_id", rel="wf_embeddings",
                      pair_cond="a.vec_id < 20 AND b.vec_id >= 20")}
),
knn AS (
  SELECT p.query_id, p.cand_id, p.cos_sim, e.label
  FROM (
    SELECT query_id, cand_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, cand_id) AS rn
    FROM pairs
  ) p JOIN embeddings e ON p.cand_id = e.vec_id
  WHERE p.rn <= 10
),
votes AS (
  SELECT query_id, label, COUNT(*) AS n_votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY COUNT(*) DESC, label) AS vr
  FROM knn GROUP BY query_id, label
)
SELECT query_id, label AS pred_label, n_votes
FROM votes WHERE vr = 1
""",
)
def q_llm_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN (k=10) majority-label classification of the first 20 vectors
    against the rest: two-stage partial top-k (``partitioned_topk``, no
    global per-query sort) → vote count → argmax with total tie-break."""
    # well-formed vectors only, matching the oracle's wf_embeddings
    # (review r12): a ragged/NULL-element row's zip_with cosine is NULL
    # on this side while the oracle's SUM-dot scored it for real
    em = load_table(spark, sf_dir, "embeddings").filter(
        (F.size("embedding") == 64)
        & (F.expr("size(filter(embedding, x -> x IS NULL))") == 0))
    queries = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_norm"))
    corpus = em.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_norm"), "label")
    pairs = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id", "cand_id", "label",
        cosine_with_norms("q_emb", "c_emb", "q_norm", "c_norm").alias("cos_sim"))
    knn = partitioned_topk(pairs, "query_id", 10, payload=["label"])
    votes = knn.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes"))
    # asc_nulls_last: DuckDB's ORDER BY label defaults to NULLS LAST
    # while Spark's asc puts NULLS FIRST — a NULL-label group tying on
    # votes would win here and lose in the oracle (review r12; label is
    # schema-nullable)
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc_nulls_last())
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )


# ---- random-hyperplane LSH: size-adaptive machinery (VERDICT r1 #6) ----


def hyperplane_lsh_params(
    n_rows: int,
    tau: float,
    target_recall: float = 0.9999,
    target_occupancy: int = 128,
    max_planes: int = 256,
) -> tuple[int, int]:
    """Compute (bits_per_band, n_bands) from corpus size and similarity
    threshold instead of freezing fixture-tuned constants.

    - ``bits_per_band`` ≈ log2(n_rows / target_occupancy): each band has
      2^bits buckets, so the expected bucket holds ~target_occupancy
      vectors and the within-bucket candidate count stays bounded as the
      corpus grows (the r1 gap: 4 bits was tuned to 500 vectors).
    - ``n_bands``: for random hyperplanes, a pair at angle θ agrees on one
      bit with p = 1 − θ/π; it shares a band's bucket with p^bits, and is
      caught by at least one of B bands with 1 − (1 − p^bits)^B.  Solve
      for B at the target recall.

    At production thresholds (τ≈0.95 → p≈0.90) this yields e.g.
    (15 bits, ~40 bands) for a 10^7-vector corpus — selective buckets AND
    high recall.  At low τ the formula honestly returns few bits and many
    bands (low τ gives LSH little signal to work with — that is the
    math, not a tuning artifact).

    ``max_planes`` caps bits·bands: an unbounded formula at (low τ, high
    recall, large n) runs away — e.g. τ=0.40 / recall 1-1e-6 / n=20k
    wants 8 bits × 544 bands ≈ 4350 signature expressions, which no plan
    compiler (or cluster) should be asked to execute.  Under the cap,
    bits step down first (coarser buckets need fewer bands for the same
    recall); if even 1-bit bands can't reach the recall target inside
    the cap, bands clamp to the cap — surfacing that hyperplane LSH
    cannot be both selective and complete in that regime (production
    near-dup thresholds τ≥0.9 sit comfortably inside it).
    """
    p = 1.0 - math.acos(max(-1.0, min(1.0, tau))) / math.pi
    bits = max(1, math.ceil(math.log2(max(n_rows / target_occupancy, 2.0))))
    log_miss = math.log(max(1.0 - target_recall, 1e-12))

    def bands_for(b: int) -> int:
        p_band = p ** b
        if p_band >= 1.0:
            return 1
        return max(1, math.ceil(log_miss / math.log(1.0 - p_band)))

    while bits > 1 and bits * bands_for(bits) > max_planes:
        bits -= 1
    bands = min(bands_for(bits), max(1, max_planes // bits))
    return bits, bands


def spark_murmur3_int(x, seed):
    """Spark's ``Murmur3Hash`` of one INT field, vectorized in numpy:
    ``Murmur3_x86_32.hashInt(x, seed)`` — mixK1/mixH1 then fmix with
    length 4 — on uint32 arrays (wrapping arithmetic ≡ Java int
    overflow).  Spark folds multi-arg ``hash(a, b)`` as
    ``hashInt(b, hashInt(a, 42))``: each field fully finalizes and
    seeds the next.  Parity with JVM ``F.hash`` is pinned elementwise
    over the whole plane grid in tests/test_llm.py — this function
    exists so LSH plan construction runs zero Spark jobs (VERDICT r8
    #7) without silently redefining the hash that places buckets."""
    import numpy as np

    u = np.uint32
    x = x.astype(np.uint32)
    k1 = x * u(0xCC9E2D51)
    k1 = (k1 << u(15)) | (k1 >> u(17))
    k1 = k1 * u(0x1B873593)
    h1 = (np.asarray(seed, dtype=np.uint32) ^ k1)
    h1 = (h1 << u(13)) | (h1 >> u(19))
    h1 = h1 * u(5) + u(0xE6546B64)
    h1 = h1 ^ u(4)  # fmix: xor the byte length (one 4-byte field)
    h1 = h1 ^ (h1 >> u(16))
    h1 = h1 * u(0x85EBCA6B)
    h1 = h1 ^ (h1 >> u(13))
    h1 = h1 * u(0xC2B2AE35)
    h1 = h1 ^ (h1 >> u(16))
    return h1


def hyperplane_matrix(n_planes: int, dim: int):
    """The ±1 plane matrix (n_planes × dim): +1 where Spark's
    ``hash(p, i)`` is even, else -1 — computed driver-side with no
    Spark job (evenness of the int32 hash is bit 0 of its uint32
    image, so the sign convention matches the old JVM
    ``hash(...) % 2 = 0`` expression exactly)."""
    import numpy as np

    p = np.arange(n_planes, dtype=np.uint32)[:, None]
    i = np.arange(dim, dtype=np.uint32)[None, :]
    h = spark_murmur3_int(
        np.broadcast_to(i, (n_planes, dim)),
        spark_murmur3_int(p, np.uint32(42)))
    return np.where((h & np.uint32(1)) == 0, 1.0, -1.0)


def hyperplane_band_rows(df: DataFrame, id_col: str, vec_col: str,
                         bits: int, bands: int, dim: int = 64) -> DataFrame:
    """(id, vector) → one (id, band, bkt) row per band.

    Signature bits are sign(v · h_p) against deterministic ±1 hyperplanes
    h_p[i] = ±1 from murmur3(p, i) — the plane matrix is materialized
    once JVM-side (a bits·bands × dim job over ``sequence``, ≤256×64
    values) and closed over by an Arrow-batched pandas UDF that computes
    ALL plane dots per batch as ONE numpy matmul.  The previous form —
    bits·bands separate ``aggregate(zip_with(...))`` expressions — is
    interpreted (higher-order functions never enter codegen) and cost
    ~n·planes·dim scalar evals: at 200k×165×64 that was ~98% of LSH
    wall-clock.  The matmul path is the textbook "vectorized UDF beats
    built-in" exception: still a pure projection over the scan (no
    shuffle).  Determinism, honestly stated (ADVICE r7 applied, with
    its limits): the matmul accumulates in BLAS order, so the dot is
    rounded at 1e-6 (the IVF argmax grain) before the sign threshold —
    this pins the common case and matches the sibling path's grain,
    but it RELOCATES the knife edge rather than removing it: a true
    dot within ~1 ulp of the 5e-7 rounding boundary can still round
    differently across BLAS builds (the measure of at-risk inputs is
    the same as the old near-zero caveat).  LSH callers are rows-only/
    approximate; the bit-reproducible alternative remains the old
    left-to-right fold at ~16× the wall.  A row that
    ``well_formed_rows`` drops gets a NULL bucket array (the explode
    then emits nothing for it — same degraded-output behavior as the
    old NULL-propagating HOF form, instead of a task crash).
    The explode emits ``bands`` narrow rows per vector.

    Plan construction runs NO Spark job (VERDICT r8 #7): the plane
    matrix is derived driver-side by ``spark_murmur3_int`` — a numpy
    re-implementation of Spark's ``hash(int, int)`` (Murmur3 x86-32,
    seed 42, per-field finalization) — instead of collecting a
    ``sequence``/``transform`` job.  The silent-divergence risk the
    old eager-job form cited is closed by a pinned parity test
    (tests/test_llm.py) that compares the full (p, i) grid against
    JVM ``F.hash`` elementwise, so the buckets are provably the same
    bits the HOF form produced.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    import numpy as np

    # Exactly the planes the HOF form used: ±1 from hash(p, i) evenness,
    # p and i both INT (hash folds argument types — keep them as before).
    Ht = hyperplane_matrix(bits * bands, dim).T.copy()
    pow2 = np.array([2 ** j for j in range(bits)], dtype=np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def band_buckets(vec):
        pos, V = well_formed_rows(vec, dim)                  # (m_ok, dim)
        # Round at the 1e-6 grain (same as the IVF argmax) before the
        # sign threshold so a plane dot within ~1 ulp of zero cannot
        # flip a bucket across BLAS builds or Arrow batch compositions.
        S = np.round(V @ Ht, 6) > 0                          # (m_ok, planes)
        B = np.stack(
            [S[:, b * bits:(b + 1) * bits] @ pow2 for b in range(bands)],
            axis=1).astype(np.int32)                         # (m_ok, bands)
        out = [None] * len(vec)
        for i, b in zip(pos, B):
            out[i] = b
        return pd.Series(out)

    return (
        df.select(id_col, F.posexplode(band_buckets(vec_col))
                  .alias("band", "bkt"))
    )


def hyperplane_candidate_pairs(df: DataFrame, id_col: str, vec_col: str,
                               n_rows: int, tau: float,
                               target_recall: float = 0.9999,
                               bucket_window: int | None = None) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) for cosine ≥ tau, parameters
    computed from the corpus size.  Only (id, band, bkt) rows shuffle;
    vectors rejoin downstream — the narrow-relation discipline that
    matters when ids number 10^10.

    ``bucket_window=W`` bounds hot-bucket blowup (the LSH skew
    pathology: a near-duplicate cluster of m members lands in ONE
    bucket in EVERY band and full pairing is Θ(m²·bands)): members are
    ordered by a band-salted hash and each pairs only with its W
    successors — Θ(m·W·bands) pairs, identical to full pairing whenever
    the bucket is ≤ W+1 (the healthy case).  The salt rotates the
    neighbor sets per band, so across bands a member still meets
    ~W·bands distinct candidates.  Exact-recall callers (the
    oracle-checked threshold join) leave it None."""
    bits, bands = hyperplane_lsh_params(n_rows, tau, target_recall)
    # NOT pinned: the relation feeds both self-join sides, but both
    # sides consume the SAME (band, bkt) hash exchange and Spark's
    # ReuseExchange rule dedupes identical exchange subtrees — measured
    # round 9: pinning (serialized MEMORY_AND_DISK) was 22.3 s vs
    # 20.8 s unpinned at the 100× fixture, pure materialization
    # overhead.  (localCheckpoint-everything-with-two-consumers stops
    # at exchange-aligned self-joins.)
    rows = hyperplane_band_rows(df, id_col, vec_col, bits, bands)
    if bucket_window is not None:
        wb = Window.partitionBy("band", "bkt").orderBy(
            F.xxhash64(F.col(id_col), F.col("band")), id_col)
        rows = rows.withColumn("rn", F.row_number().over(wb))
        a = rows.select(F.col(id_col).alias("_ia"), "band", "bkt",
                        F.col("rn").alias("rn_a"))
        b = rows.select(F.col(id_col).alias("_ib"), "band", "bkt",
                        F.col("rn").alias("rn_b"))
        return (
            a.join(b, ["band", "bkt"])
            .filter((F.col("rn_b") > F.col("rn_a"))
                    & (F.col("rn_b") <= F.col("rn_a") + bucket_window))
            .select(F.least("_ia", "_ib").alias("id_a"),
                    F.greatest("_ia", "_ib").alias("id_b"))
            .distinct()
        )
    a = rows.select(F.col(id_col).alias("id_a"), "band", "bkt")
    b = rows.select(F.col(id_col).alias("id_b"), "band", "bkt")
    return (
        a.join(b, ["band", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@query("q_llm_sim_lsh_topk")  # rows-only: approximate (recall < 1 by design)
def q_llm_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH with size-adaptive
    parameters (``hyperplane_lsh_params`` — bits from corpus size, bands
    from target recall at the design similarity).  Candidates = pairs
    sharing a bucket in any band; exact cosine re-ranks candidates.

    At 100 TB: signatures are one scan; the bucket join is an equi
    shuffle on (band, bucket) — no crossJoin anywhere; hot buckets
    (near-dup clusters that collide in every band) are bounded by
    ``bucket_window`` so no bucket pairs quadratically; norms are
    precomputed per ROW (|corpus| HOF evals) instead of per PAIR —
    at W·bands candidates per id the re-rank is the dominant cost and
    this cuts it ~3×; the re-rank uses ``partitioned_topk`` so no task
    absorbs one key's full candidate list (VERDICT r2 item 8).  The
    per-pair JVM fold is deliberately NOT Arrow-vectorized (unlike the
    per-doc signature paths): measured round 9, shipping both 64-float
    vectors per candidate pair through Arrow (~29M pairs ≈ 15 GB at
    100×) cost 35 s vs the fold's 21 s — per-PAIR payloads invert the
    vectorize-the-hot-loop rule that wins for per-ROW payloads.  Recall
    vs the exact top-k is asserted in pytest (rows-only for the
    driver)."""
    em = load_table(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")  # catalog stats, no pre-scan
    # Design similarity 0.9: the production ANN/near-dup regime, where
    # banding is selective — and the plane budget stays small at any n.
    cands = hyperplane_candidate_pairs(
        em, "vec_id", "embedding", n_rows=n, tau=0.9, target_recall=0.95,
        bucket_window=16)
    a = em.select(F.col("vec_id").alias("id_a"),
                  F.col("embedding").alias("a_emb"),
                  _norm("embedding").alias("a_norm"))
    b = em.select(F.col("vec_id").alias("cand_id"),
                  F.col("embedding").alias("b_emb"),
                  _norm("embedding").alias("b_norm"))
    scored = (
        cands.join(a, "id_a")
        .join(b, cands["id_b"] == b["cand_id"])
        .select("id_a", "cand_id",
                cosine_with_norms("a_emb", "b_emb", "a_norm", "b_norm")
                .alias("cos_sim"))
    )
    return partitioned_topk(scored, "id_a", 5).select(
        "id_a", F.col("cand_id").alias("id_b"), "cos_sim", "rank")


# ---------------------------------------------------------------------------
# Portable hyperplane-LSH twin (VERDICT r9 #4): the production key above is
# rows-only by necessity (xxhash64 planes + salted bucket windows are
# engine-specific), so this twin runs the SAME pipeline shape — signature →
# band buckets → bucket self-join → exact cosine re-rank → top-k — with
# every stage deterministic and DuckDB-expressible:
#   * planes are FIXED Rademacher (±1) vectors derived from md5 at module
#     load and embedded as '0'/'1' literals in both dialects;
#   * the signature dot runs over the embedding QUANTIZED to integers
#     (round(x·1e6) as BIGINT), so the sign is exact integer arithmetic —
#     bit-identical across engines, no float-accumulation-order tail like
#     the ROUND-6-guarded cosine keys tolerate;
#   * a bounded slice (vec_id < 200) keeps the oracle's all-candidate
#     re-rank cheap, exactly like q_llm_dedup_minhash_portable's bound.
_LSH_PORTABLE_PLANES = 16     # 4 bands × 4 bits
_LSH_PORTABLE_BANDS = 4
_LSH_PORTABLE_DIM = 64
_LSH_PORTABLE_BOUND = 200


def _lsh_portable_plane_bits() -> list[str]:
    """Plane p = first 64 bits of md5('lsh-plane:<p>') as a '0'/'1'
    string; bit d picks +1/-1 for dimension d (a Rademacher hyperplane,
    a standard SimHash/SRP plane family)."""
    import hashlib
    out = []
    for p in range(_LSH_PORTABLE_PLANES):
        h = int(hashlib.md5(f"lsh-plane:{p}".encode()).hexdigest(), 16)
        out.append(format(h >> 64, "064b"))
    return out


def _lsh_portable_bucket_exprs() -> tuple[list[str], list[str]]:
    """(spark_buckets, duck_buckets): per band, a concat of 4 sign-bit
    CASEs over the quantized column ``qe``.  The ONLY dialect difference
    is array indexing (element_at is 1-based in Spark SQL; DuckDB list
    indexing is 1-based via []) — the arithmetic text is otherwise
    identical, so both engines evaluate the same exact integer dot."""
    planes = _lsh_portable_plane_bits()

    def duck_dot(bits: str) -> str:
        terms = "".join(f" {'+' if bits[d] == '1' else '-'} qe[{d + 1}]"
                        for d in range(_LSH_PORTABLE_DIM))
        return f"(0{terms})"

    def spark_dot(bits: str) -> str:
        # A flat 64-term sum here janino-overflows whole-stage codegen
        # (ANSI overflow-checked ops × 1024 terms → a 15k-line class);
        # the HOF fold stays compact, and integer adds are order-exact
        # so the fold is bit-identical to DuckDB's flat sum.
        # try_element_at: a ragged/empty vector degrades to a NULL dot
        # (and thence a NULL signature) instead of ANSI-throwing
        # INVALID_ARRAY_INDEX — the r11 trap the minhash signature
        # already dodges (review r12); DuckDB's qe[i] is NULL there too
        return (f"aggregate(sequence(1, {_LSH_PORTABLE_DIM}), 0L, "
                f"(acc, i) -> acc + (CASE WHEN substr('{bits}', i, 1) = '1' "
                f"THEN try_element_at(qe, i) "
                f"ELSE -try_element_at(qe, i) END))")

    def bit(dot: str) -> str:
        return f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)"

    r = _LSH_PORTABLE_PLANES // _LSH_PORTABLE_BANDS
    spark_b, duck_b = [], []
    for b in range(_LSH_PORTABLE_BANDS):
        band = planes[b * r:(b + 1) * r]
        spark_b.append("concat(" + ", ".join(
            bit(spark_dot(p)) for p in band) + ")")
        duck_b.append(" || ".join(bit(duck_dot(p)) for p in band))
    return spark_b, duck_b


_LSH_PORTABLE_QUANT = ("CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) "
                       "AS BIGINT)")


def _lsh_portable_oracle() -> str:
    _, duck_buckets = _lsh_portable_bucket_exprs()
    band_rows = "\n    UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {expr} AS bucket FROM sl"
        for b, expr in enumerate(duck_buckets))
    return f"""
WITH wf AS (
  -- well-formed vectors only (review r12): a ragged/NULL-element
  -- vector's flat-sum dot is NULL and CASE NULL >= 0 mints the
  -- all-zero bucket, while the re-rank's SUM-dot skips NULL terms —
  -- both engines now drop the row at the door instead
  SELECT * FROM embeddings
  WHERE vec_id < {_LSH_PORTABLE_BOUND}
    AND len(embedding) = {_LSH_PORTABLE_DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
sl AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> {_LSH_PORTABLE_QUANT}) AS qe
  FROM wf
),
bk AS (
    {band_rows}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         {duck_pair_cosine("a", "b")} AS cos_sim
  FROM cand c
  JOIN wf a ON a.vec_id = c.id_a
  JOIN wf b ON b.vec_id = c.id_b
  CROSS JOIN generate_series(1, {_LSH_PORTABLE_DIM}) AS g(i)
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, cos_sim, rn AS rank
FROM (
  SELECT id_a, id_b, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY id_a
                            ORDER BY cos_sim DESC, id_b) AS rn
  FROM pairs
) WHERE rn <= 5
"""


@query("q_llm_sim_lsh_topk_portable", oracle=_lsh_portable_oracle)
def q_llm_sim_lsh_topk_portable(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Hash-grade twin of ``q_llm_sim_lsh_topk`` (see the block comment
    above for the portability design).  Same distributed shape as the
    production key: signature is a pure projection over the scan, the
    candidate join is an equi shuffle on (band, bucket) with no
    crossJoin, the re-rank is ``partitioned_topk`` — only the plane
    family and the slice bound differ."""
    spark_buckets, _ = _lsh_portable_bucket_exprs()
    em = (load_table(spark, sf_dir, "embeddings")
          .filter((F.col("vec_id") < _LSH_PORTABLE_BOUND)
                  & (F.size("embedding") == _LSH_PORTABLE_DIM)
                  & (F.expr("size(filter(embedding, x -> x IS NULL))")
                     == 0)))
    bk = (
        em.select(
            "vec_id",
            F.expr(f"transform(embedding, x -> {_LSH_PORTABLE_QUANT})")
            .alias("qe"))
        .select("vec_id",
                F.posexplode(F.array(*[F.expr(b) for b in spark_buckets]))
                .alias("band", "bucket"))
    )
    a = bk.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    b = bk.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    cand = (a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    ea = em.select(F.col("vec_id").alias("_ia"),
                   F.col("embedding").alias("a_emb"),
                   _norm("embedding").alias("a_norm"))
    eb = em.select(F.col("vec_id").alias("cand_id"),
                   F.col("embedding").alias("b_emb"),
                   _norm("embedding").alias("b_norm"))
    scored = (
        cand.join(ea, cand["id_a"] == ea["_ia"])
        .join(eb, cand["id_b"] == eb["cand_id"])
        .select("id_a", "cand_id",
                cosine_with_norms("a_emb", "b_emb", "a_norm", "b_norm")
                .alias("cos_sim"))
    )
    return partitioned_topk(scored, "id_a", 5).select(
        "id_a", F.col("cand_id").alias("id_b"), "cos_sim", "rank")


@query("q_llm_sim_ivf_topk")  # rows-only: approximate (nprobe < n_lists by design)
def q_llm_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN search — the other classic scale path next
    to LSH (q_llm_sim_lsh_topk): partition the corpus into coarse lists
    (here: per-label mean centroids, a deterministic stand-in for k-means
    — same plan shape), then each query probes only its nprobe nearest
    lists and exact-cosine re-ranks inside them.

    At 100 TB: the centroid table (n_lists rows) is computed ONCE
    (pinned — the probe join reads it too) and collected to the
    driver; corpus→list routing is a
    vectorized pandas-UDF batch matmul against that matrix — a pure
    PROJECTION, no n_lists-way row expansion and no corpus shuffle (the
    earlier crossJoin+max_by form pushed corpus×n_lists rows through an
    exchange).  Scores round at 1e-6 before argmax so routing keeps the
    old ROUND-6 cosine's tie semantics (first index = smallest list_id)
    and stays independent of BLAS/batch accumulation order; a vector
    that ``well_formed_rows`` drops (NULL, ragged, NULL- or NaN-element)
    routes to NULL and drops out of the join (degraded output, not a
    worker crash); a zero centroid scores 0 everywhere instead of
    NaN-poisoning argmax.  The key keeps these float means and this
    one-matmul router rather than ``centroid_vectors`` (exact-decimal
    means) and ``assign_nearest`` (bit-parity cosine fold, array
    output): with those two the key ran 1.61 s against 0.93 s at sf0.1
    and 4.73 s against 1.81 s at the 10× fixture (medians of 3, 4
    cores).  NOTE: building this DataFrame eagerly runs the centroid
    job (the collect) — plan-only callers pay one small aggregation.
    Cost drops from O(|corpus|·|queries|) to
    O(|corpus|·nprobe/n_lists·|queries|).  Recall vs the exact top-k is
    asserted in pytest (rows-only for the driver)."""
    nprobe, k = 3, 5
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    corpus = em.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "label", F.col("embedding").alias("c_emb"))
    # Coarse quantizer: per-label mean vectors (n_lists = |labels|).
    cvecs = pin(  # collected for the routing closure AND probe-joined
        corpus.select("label", F.posexplode("c_emb").alias("i", "v"))
        .groupBy("label", "i").agg(F.avg(F.col("v").cast("double")).alias("c"))
        .groupBy("label")
        .agg(F.expr("transform(array_sort(collect_list(struct(i, c))), "
                    "s -> s.c)").alias("cvec"))
        .select(F.col("label").alias("list_id"), "cvec"))
    import numpy as np
    import pandas as pd

    # NULL labels form no list (a NULL-keyed centroid crashed the
    # sorted() below with a None<int TypeError — review r12); their
    # corpus rows still score in whatever real lists they route to
    cvec_rows = sorted(cvecs.filter(F.col("list_id").isNotNull()).collect(),
                       key=lambda r: r.list_id)
    list_ids = np.array([r.list_id for r in cvec_rows], dtype=np.int64)
    dim = len(cvec_rows[0].cvec)
    C = np.stack([np.asarray(r.cvec, dtype=np.float64) for r in cvec_rows])
    norms = np.linalg.norm(C, axis=1, keepdims=True)
    norms[norms == 0.0] = np.inf  # zero centroid scores 0, never NaN-wins
    Cn = (C / norms).T.copy()

    # evaluate_once: the probe join infers isnotnull(list_id) on the
    # UDF's output, which would otherwise evaluate it a second time
    @evaluate_once
    @F.pandas_udf("int")
    def nearest_list(vec):
        # a degenerate vector must route to NULL, not list_ids[0]:
        # np.argmax over an all-nan score row returns 0 (review r12)
        pos, V = well_formed_rows(vec, dim)
        # |v| is constant per row — argmax of V @ Cn ranks by cosine
        # without normalizing the query side; round at the old ROUND-6
        # grain so ties break to the smallest list_id and BLAS/batch
        # accumulation order cannot flip the pick.
        pick = list_ids[np.argmax(np.round(V @ Cn, 6), axis=1)]
        out = [None] * len(vec)
        for i, p in zip(pos, pick):
            out[i] = int(p)
        return pd.Series(out, dtype="Int32")

    assigned = corpus.select(
        "cand_id", "c_emb", nearest_list("c_emb").alias("list_id"))
    # Each query probes its nprobe nearest lists (tiny × tiny).
    probes = partitioned_topk(
        queries.crossJoin(F.broadcast(cvecs))
        .select("query_id", "q_emb", F.col("list_id").alias("cand_id"),
                cosine("q_emb", "cvec").alias("cos_sim")),
        "query_id", nprobe, payload=["q_emb"],
    ).select("query_id", "q_emb", F.col("cand_id").alias("list_id"))
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .select("query_id", "cand_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    return partitioned_topk(scored, "query_id", k).select(
        "query_id", "cand_id", "cos_sim", "rank")


@query(
    "q_llm_sim_hamming_topk",
    oracle="""
WITH vx AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
packed AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN i <= 32 AND v > 0
                       THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END)
              AS BIGINT) AS w1,
         CAST(SUM(CASE WHEN i > 32 AND v > 0
                       THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END)
              AS BIGINT) AS w2
  FROM vx GROUP BY vec_id
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(bit_count(xor(q.w1, c.w1))
              + bit_count(xor(q.w2, c.w2)) AS BIGINT) AS hamming
  FROM packed q JOIN packed c
    ON q.vec_id < 10 AND c.vec_id >= 10
)
SELECT query_id, cand_id, hamming, CAST(rnk AS BIGINT) AS rank
FROM (SELECT query_id, cand_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming, cand_id) AS rnk
      FROM scored)
WHERE rnk <= 5
""",
)
def q_llm_sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbors in HAMMING space over the 1-bit packed
    vectors of q_llm_emb_binarize — the binary-quantization first-pass
    ranking modern vector stores run before exact re-scoring: distance
    is two XORs + two popcounts per candidate (vs 64 multiply-adds for
    cosine), and the whole computation is integer-exact, so unlike every
    float ANN this one is hash-grade end-to-end with no rounding
    discipline.

    Scale: the query side (packed, 16 B/row) BROADCASTS; the corpus is
    scanned once, packed on the fly (projection, no shuffle) and never
    exploded; the finish is the same two-stage partitioned_topk as the
    exact cosine search — corpus-shuffle-free, the billion-vector
    shape.  Tie-break (hamming, cand_id), both engines."""
    em = load_table(spark, sf_dir, "embeddings")
    from .embeddings import _BQ_PACK_S
    # NULL **and empty** embeddings drop (oracle's unnest emits no row
    # for either; a fabricated all-zeros signature would rank as a real
    # match — review r11 caught NULL, r12 caught [])
    packed = (em.filter(F.size("embedding") > 0).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("xe"))
        .select("vec_id",
                F.expr(_BQ_PACK_S.format(base=0)).alias("w1"),
                F.expr(_BQ_PACK_S.format(base=32)).alias("w2")))
    q = (packed.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("w1").alias("qw1"), F.col("w2").alias("qw2")))
    c = (packed.filter(F.col("vec_id") >= 10)
         .select(F.col("vec_id").alias("cand_id"), "w1", "w2"))
    hamming = (F.expr("bit_count(qw1 ^ w1) + bit_count(qw2 ^ w2)")
               .cast("long"))
    scored = (c.crossJoin(F.broadcast(q))
              .select("query_id", "cand_id", hamming.alias("hamming")))
    top = partitioned_topk(
        scored.select("query_id", "cand_id",
                      (-F.col("hamming")).alias("cos_sim")),
        "query_id", 5)
    return top.select("query_id", "cand_id",
                      (-F.col("cos_sim")).cast("long").alias("hamming"),
                      F.col("rank").cast("long").alias("rank"))
