"""§2.10 Embedding-column utilities: quantization and per-class
centroids — the vector-pipeline companions to similarity search (storage
compression and cluster summaries for IVF-style indexes).

All arithmetic widens float32→double before computing and uses only
IEEE-exact ops (abs/trunc/greatest, exact-decimal sums), so both engines
agree bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..numerics import DEC, dsum9, sql_dsum9
from ..registry import query
from .similarity import (_norm, evaluate_once, partitioned_topk,
                         well_formed_rows, wf_vectors)


@query(
    "q_llm_emb_quantize",
    oracle="""
WITH amax AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS a
  FROM embeddings
)
SELECT vec_id, a AS amax,
       array_to_string(
         list_transform(embedding,
             x -> COALESCE(CAST(trunc(CAST(x AS DOUBLE) * 127.0
                                      / NULLIF(a, 0)) AS INT), 0)), ',')
         AS q8
FROM amax
""",
)
def q_llm_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector: q = trunc(x·127/amax).
    4× storage reduction for ANN candidate filtering; trunc (not round)
    because double→int casts agree across engines only for truncation.
    One scan, all HOFs — JVM-side, no shuffle."""
    em = load_table(spark, sf_dir, "embeddings")
    # array_max, not a 0.0-seeded greatest-fold (review r12): the fold
    # returned 0.0 for empty/all-NULL embeddings where the oracle's
    # list_max returns NULL — array_max matches it exactly (NULL
    # elements ignored, NULL on empty)
    amax = F.expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    ).alias("amax")
    with_amax = em.select("vec_id", "embedding", amax)
    # Joined to a CSV string: the driver canonicalizer can't hash array
    # cells (CORRECTNESS_r01 q_agg_collect TypeError); int elements
    # stringify identically in both engines.
    # try_divide + coalesce: an all-zero vector (amax=0 — in-domain,
    # q_llm_emb_norm_stats counts exactly these) must quantize to all
    # zeros, not throw DIVIDE_BY_ZERO under the ANSI default (review
    # r10); also keeps array_join from silently dropping NULL elements.
    # NULL q8 for an EMPTY embedding (review r13): DuckDB 1.0's
    # array_to_string([]) returns NULL while Spark's array_join returns
    # '' — a dialect trap no clean fixture exercises but a degenerate
    # one does; gate on size so both engines emit NULL
    return with_amax.select(
        "vec_id", "amax",
        F.when(
            F.size("embedding") > 0,
            F.array_join(
                F.expr("""
                    transform(embedding,
                              x -> coalesce(CAST(try_divide(
                                     CAST(x AS DOUBLE) * 127.0D, amax) AS INT),
                                   0))
                """),
                ",",
            )).alias("q8"),
    )


@query(
    "q_llm_emb_centroid",
    oracle="""
WITH elems AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
dims AS (
  SELECT label, i,
         CAST(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS c,
         COUNT(*) AS n
  FROM elems GROUP BY label, i
)
SELECT label, MIN(n) AS n_vectors,
       array_to_string(
         list(CAST(trunc(c * 1000000.0) AS BIGINT) ORDER BY i), ',')
         AS centroid_u6
FROM dims GROUP BY label
""",
)
def q_llm_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the IVF coarse-quantizer build step):
    posexplode → exact-decimal mean per (label, dim) → re-assemble in dim
    order.  Shuffles once on (label, dim) — 640 groups regardless of
    corpus size; the re-assembly list is bounded by dim=64."""
    em = load_table(spark, sf_dir, "embeddings")
    elems = exploded_elems(em.select("label", "embedding"), "label")
    dims = elems.groupBy("label", "i").agg(
        (F.sum(F.col("v").cast("decimal(30,8)")).cast("double")
         / F.count("v")).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    # Centroid elements are projected to microunit BIGINTs before the CSV
    # join: identical doubles → identical integers → identical strings,
    # sidestepping double→string formatting differences between engines
    # (and the driver canonicalizer's inability to hash array cells).
    return (
        dims.groupBy("label")
        .agg(
            F.min("n").alias("n_vectors"),
            F.array_join(
                F.expr(
                    # Spark double→BIGINT cast truncates toward zero, same
                    # as DuckDB's trunc(); a decimal cast would round.
                    "transform(array_sort(collect_list(struct(i, c))), "
                    "s -> CAST(s.c * 1000000.0D AS BIGINT))"
                ),
                ",",
            ).alias("centroid_u6"),
        )
    )

@query(
    "q_llm_emb_ivf_assign",
    oracle="""
WITH elems AS (
  SELECT label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (
  SELECT label, i,
         CAST(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS c
  FROM elems GROUP BY label, i
),
vec AS (
  -- well-formed vectors only (review r13): Spark's assign path DROPS
  -- NULL/ragged/NULL-element vectors (wf_vectors)
  SELECT vec_id, label AS own_label,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
pairs AS (
  SELECT vec.vec_id, vec.own_label, cent.label AS cand_label,
         ROUND(SUM(vec.v * cent.c)
               / (sqrt(SUM(vec.v * vec.v)) * sqrt(SUM(cent.c * cent.c))),
               6) AS cos_sim
  FROM vec JOIN cent ON vec.i = cent.i
  GROUP BY vec.vec_id, vec.own_label, cent.label
),
best AS (
  SELECT vec_id, own_label, cand_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, cand_label) AS rn
  FROM pairs
)
SELECT vec_id, own_label, cand_label AS ivf_label, cos_sim
FROM best WHERE rn = 1
""",
)
def q_llm_emb_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment: route every vector to its
    nearest centroid (built per label, exact-decimal means as in
    q_llm_emb_centroid).  This is the partition-routing step of an IVF
    ANN index: at 100 TB the centroid table is tiny (n_lists rows), so
    ``assign_nearest`` collects it and the argmax is a zero-exchange
    projection over the corpus scan.  Tie-break: lowest candidate
    label.  Centroids accumulate over the raw corpus (NULL-skipping
    sums in both engines); only well-formed vectors get assigned (the
    wf_vectors/vec-CTE contract)."""
    em = load_table(spark, sf_dir, "embeddings")
    asg = assign_nearest(
        em, centroid_vectors(em.select("label", "embedding"), "label"),
        "label", carry=("label",))
    return asg.select("vec_id", F.col("label").alias("own_label"),
                      F.col("cluster").alias("ivf_label"), "cos_sim")


# ------------------------------------------------------------- k-means

def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Widen a single/few-split fixture scan to the session parallelism
    so the Arrow-batched UDF stage runs all-core.  Conditional (review
    r11): at real scale the scan already carries ≥ that many splits and
    the unconditional form added a full-corpus round-robin exchange at
    exactly the volume where it costs; the partition-count probe is
    plan metadata, no job.

    The UDF over the spread rows must be built with ``evaluate_once``.
    A deterministic UDF whose output is filtered (the PQ keys drop NULL
    codes) is evaluated a second time under the pushed-down filter,
    and that copy lands BELOW this exchange: a stage at the scan's split
    width (one task on the fixture) running the whole encode before
    the all-core copy above the exchange runs it again."""
    p = spark.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def exploded_elems(df: DataFrame, key: str) -> DataFrame:
    """(key, embedding) → (key, i, v double): the posexplode layer of
    every centroid computation, exposed separately so builders that
    need the element relation for MORE than the mean (SQ8 bounds in
    ann_index._train_quantizer, per-dim counts in q_llm_emb_centroid)
    share one definition instead of re-inlining it (review r10)."""
    return (df.select(key, F.posexplode("embedding").alias("i", "v"))
            .select(key, "i", F.col("v").cast("double").alias("v")))


def centroid_from_elems(elems: DataFrame, key: str) -> DataFrame:
    """(key, i, v) → (key, cvec): exact-decimal per-dimension means,
    re-assembled in dimension order."""
    cent = elems.groupBy(key, "i").agg(
        (F.sum(F.col("v").cast("decimal(30,8)")).cast("double")
         / F.count("v")).alias("c"))
    return cent.groupBy(key).agg(
        F.expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)")
        .alias("cvec"))


def centroid_vectors(df: DataFrame, key: str) -> DataFrame:
    """(key, embedding) → (key, cvec array<double>): exact-decimal
    per-dimension means, re-assembled in dimension order.  One shuffle
    on (key, i) — |clusters|·dim groups regardless of corpus size.
    THE single centroid definition: q_llm_emb_ivf_assign, pq_codebook,
    ann_index's quantizer, and the kmeans keys all route through here
    (or the two layers above), so the 'same deterministic quantizer'
    parity their docstrings promise is structural, not copy-paste
    (review r10)."""
    return centroid_from_elems(exploded_elems(df, key), key)


def assign_nearest(em: DataFrame, cvecs: DataFrame, key: str,
                   carry: tuple = ()) -> DataFrame:
    """Route every vector to its max-cosine centroid (tie → lowest key)
    as a ZERO-EXCHANGE Arrow projection (r13 optimization round): the
    k×dim centroid table is collected driver-side (the same
    quantizer-sized pull every sibling — IVF router, PQ codebook,
    stored-index LUT — already makes) and rides the UDF closure; each
    corpus row's k raw cosines come from ``all_pairs_cosine_udf`` — THE
    bit-parity-certified fold (left-to-right elementwise accumulation,
    bit-identical to the old ``cosine_with_norms`` HOF on every pair;
    asserted unrounded over all sf0.01 pairs in tests/test_llm.py) —
    and the hash-critical ROUND-6 + argmax stay JVM expressions.

    The previous shape (broadcast crossJoin expand → per-pair
    interpreted ``aggregate(zip_with(...))`` cosines → Exchange(vec_id)
    + max_by re-aggregate) paid one full shuffle of the expanded n·k
    pair relation plus ~n·k·dim interpreted HOF element evals per
    sweep — HOFs never enter codegen; measured 16k evals ≈ 0.3-0.5 s at
    sf0.1 k=8, and the kmeans key repeats it per Lloyd round.  Now:
    scan → ArrowEvalPython → project.  Nothing shuffles, nothing
    re-aggregates; the argmax is ``array_position(r6, array_max(r6))``
    over the k-array (first occurrence = lowest key, exactly the old
    ``max_by(struct(cos_sim, -_ck))`` tie order).

    Semantics preserved exactly (oracle hashes unchanged, re-verified
    at sf0.001/0.01/0.1):

    - degenerate vectors (NULL/empty/ragged/NULL-element) are DROPPED
      via wf_vectors, as before (review r13 contract);
    - a zero-norm corpus vector gets every cosine NULL (try_divide ≡
      the UDF's denom==0 → NULL) → cluster = LOWEST key with cos_sim
      NULL, replicating max_by's all-NULL-ordering struct compare;
    - a zero-norm CENTROID's column is NULL and never wins (array_max
      skips NULLs ≡ NULL-ordering rows losing the struct compare);
    - NULL centroid keys sort LAST (a NULL -_ck lost every old
      tie-break) and still win on a strict cosine max (cluster NULL,
      as before).  Fixtures contain none of these corners (audited
      r13: zero NULL labels / zero-norm / NaN vectors at all SFs);
      the planted-degenerate pytest fixtures exercise the dropped
      class only.

    The rows-only hierarchical router below keeps its pinned
    present-with-NULLs degrade instead (its adaptive callers want
    degenerate rows visible).

    ``carry`` (r14): extra em columns threaded through both selects —
    lets a caller that needs the vector AFTER assignment (semantic
    dedup's Gram stage) avoid a full corpus self-join back onto the
    assignment projection.  Default () keeps every existing caller's
    plan byte-identical.  Carried columns do NOT cross the Python
    boundary (ArrowEvalPython ships only the UDF's input columns and
    rejoins results positionally JVM-side)."""
    from .similarity import all_pairs_cosine_udf

    em = wf_vectors(em)
    ktype = cvecs.select(F.col(key)).schema[0].dataType
    rows = cvecs.select(F.col(key).alias("_ck"), "cvec").collect()
    # lowest key first (NULL keys last): first-occurrence argmax then
    # IS the old max_by(struct(cos_sim, -_ck)) tie-break
    rows.sort(key=lambda r: (r._ck is None, r._ck))
    if not rows:
        return em.select(
            "vec_id", *carry, F.lit(None).cast(ktype).alias("cluster"),
            F.lit(None).cast("double").alias("cos_sim")).where(F.lit(False))
    cos_all = all_pairs_cosine_udf([list(r.cvec) for r in rows])
    keys_arr = F.array(*[F.lit(r._ck).cast(ktype) for r in rows])
    r6 = F.expr("transform(_raw, c -> round(c, 6))")
    best = F.array_max(r6)
    pos = F.when(best.isNull(), F.lit(1)) \
           .otherwise(F.array_position(r6, best))
    return (em.select("vec_id", *carry, cos_all("embedding").alias("_raw"))
            .select("vec_id", *carry,
                    F.element_at(keys_arr, pos.cast("int")).alias("cluster"),
                    best.alias("cos_sim")))


def assign_nearest_hierarchical(em: DataFrame, cvecs: DataFrame,
                                key: str, n_fine: int,
                                carry: tuple = ()) -> DataFrame:
    """IVF-accelerated Lloyd assignment: route each vector through
    c = √k coarse centroids (the first c fine centroids serve as the
    coarse book), then exact-assign among only the fine centroids whose
    own nearest coarse centroid matches — O(n·(c + k/c)) = O(n·√k)
    cosines instead of O(n·k).  nprobe=1 semantics: a vector whose true
    nearest fine centroid lives in a neighboring coarse cell gets its
    best within-cell centroid instead — the standard IVF approximation,
    acceptable wherever clusters are partitions rather than ground truth
    (SemDeDup bucketing, sharding).  Exact uses (the oracle-checked
    kmeans/semantic keys) stay on ``assign_nearest``.

    Scale: brute-force assignment is the n·k wall when k must grow with
    n (semantic dedup wants constant cluster WIDTH, so k ∝ n).  One
    coarse level turns the optimal total semantic-dedup cost from
    O(n^1.5) (k=√n) to O(n^4/3) (k=n^2/3); each further level
    approaches O(n log n) — this function is the single recursion step.

    Vectorized r9: the old form expanded the corpus n×c and n×(k/c)
    through two crossJoin/equi-join stages whose cosines were
    interpreted ``aggregate(zip_with(...))`` HOFs (never codegen'd) —
    ~23M interpreted evals dominated the 100× adaptive semantic-dedup
    wall (52.5 s of 55).  Assignment is now a PURE PROJECTION: the
    quantizer (both books, k×dim) is collected driver-side — the same
    quantizer-sized collect every sibling (IVF, PQ, stored-index)
    makes, and the persisted-quantizer pattern applies when k outgrows
    the driver — and an Arrow-batched UDF routes each batch with two
    numpy matmuls (coarse, then the routed cell's fine book).  No
    joins, no shuffles, nothing but the scan.  Cosines round at 1e-6
    before each argmax (ties to the smallest id, exactly the old
    ``max_by(struct(cos_sim, -ck))`` order) so assignment is
    independent of BLAS/batch accumulation order; callers are
    rows-only by contract (the oracle-checked keys use exact
    ``assign_nearest``), and the returned cos_sim is the rounded
    score.  NULL/ragged vectors get NULL cluster (degraded output,
    not a worker crash).  Measured at the 100× fixture: assignment
    52.5 → 4.5 s, full adaptive semantic dedup 66.6 → ~18 s."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    # Loud cap on the driver pull (review r11 — the BPE-trainer
    # discipline): the caller's k scales with data (adaptive √n / n^2/3
    # centroids), so an unguarded collect becomes a driver OOM exactly
    # when the corpus grows; past the cap the persisted-quantizer path
    # (llm/ann_index.py: train once, broadcast the codebook) is the
    # documented lever.
    cap = 1_000_000
    rows = sorted(cvecs.limit(cap + 1)
                  .select(F.col(key).alias("k"), "cvec").collect(),
                  key=lambda r: r.k)
    if len(rows) > cap:
        raise ValueError(
            f"assign_nearest_hierarchical: >{cap:,} centroids — refusing "
            "the driver-side codebook pull; persist the quantizer "
            "(ann_index build path) instead")
    ids = np.array([r.k for r in rows], dtype=np.int64)
    C = np.array([r.cvec for r in rows], dtype=np.float64)
    dim = C.shape[1]
    c = max(1, math.isqrt(n_fine))
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0.0] = np.inf  # zero centroid scores 0, never NaN-wins
    Cn = C / cn[:, None]
    coarse_t = Cn[:c].T.copy()  # first c by key order = the coarse book
    # fine centroid → coarse cell: same rounded-argmax rule as the
    # per-vector routing below (the numpy twin of the old
    # assign_nearest call over k×c pairs).
    f2c = np.argmax(np.round(Cn @ coarse_t, 6), axis=1)
    books = {int(cell): (Cn[f2c == cell].T.copy(), ids[f2c == cell])
             for cell in np.unique(f2c)}

    out_t = StructType([StructField("cluster", LongType()),
                        StructField("cos_sim", DoubleType())])

    @F.pandas_udf(out_t)
    def route(vec):
        # a degenerate vector degrades to (NULL, NULL): its cosines
        # would all go nan, and np.argmax over nans returns position 0
        # — a valid-LOOKING but arbitrary cluster (review r12)
        pos, V = well_formed_rows(vec, dim)
        cl = np.full(len(vec), None, dtype=object)
        cs = np.full(len(vec), None, dtype=object)
        vn = np.linalg.norm(V, axis=1)
        vn[vn == 0.0] = np.inf
        Vn = V / vn[:, None]
        cell = np.argmax(np.round(Vn @ coarse_t, 6), axis=1)
        for cid in np.unique(cell):
            m = cell == cid
            book, bids = books.get(int(cid), (Cn.T, ids))
            S = np.round(Vn[m] @ book, 6)
            j = np.argmax(S, axis=1)
            for p, jj, s in zip(pos[m], j, S[np.arange(len(j)), j]):
                cl[p] = int(bids[jj])
                cs[p] = float(s)
        return pd.DataFrame({"cluster": cl, "cos_sim": cs})

    # carry: same contract as assign_nearest's (r14) — default () keeps
    # existing callers' plans byte-identical
    return (em.select("vec_id", *carry, route("embedding").alias("_a"))
            .select("vec_id", *carry, F.col("_a.cluster").alias("cluster"),
                    F.col("_a.cos_sim").alias("cos_sim")))


@query(
    "q_llm_emb_kmeans_update",
    oracle="""
WITH elems AS (
  SELECT label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (
  SELECT label, i,
         CAST(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS c
  FROM elems GROUP BY label, i
),
vec AS (
  -- well-formed vectors only (review r13): Spark's assign path DROPS
  -- NULL/ragged/NULL-element vectors (wf_vectors)
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
pairs AS (
  -- ROUND 6 like every other key in the IVF/kmeans family: the Spark
  -- side (assign_nearest -> cosine_with_norms) ranks ROUNDED cosines,
  -- so an unrounded oracle ORDER BY could pick a different centroid
  -- inside the 6th-decimal tie band (review r10)
  SELECT vec.vec_id, cent.label AS cand,
         ROUND(SUM(vec.v * cent.c)
           / (sqrt(SUM(vec.v * vec.v)) * sqrt(SUM(cent.c * cent.c))), 6)
           AS cos_sim
  FROM vec JOIN cent ON vec.i = cent.i
  GROUP BY vec.vec_id, cent.label
),
assign AS (
  SELECT vec_id, cand AS cluster,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, cand) AS rn
  FROM pairs
),
new_elems AS (
  SELECT a.cluster, generate_subscripts(e.embedding, 1) AS i,
         CAST(unnest(e.embedding) AS DOUBLE) AS v
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id AND a.rn = 1
),
new_dims AS (
  SELECT cluster, i,
         CAST(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS c,
         COUNT(*) AS n
  FROM new_elems GROUP BY cluster, i
)
SELECT cluster, MIN(n) AS n_members,
       array_to_string(
         list(CAST(trunc(c * 1000000.0) AS BIGINT) ORDER BY i), ',')
         AS centroid_u6
FROM new_dims GROUP BY cluster
""",
)
def q_llm_emb_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of (spherical) k-means, seeded from the
    per-label centroids: assign every vector to its max-cosine centroid,
    then recompute each cluster's centroid from its new members.
    Centroid elements ship as microunit BIGINTs CSV-joined (the
    q_llm_emb_centroid stringify discipline).

    Scale: assignment broadcasts the k×dim centroid table over one
    corpus scan; the update is one partial-combined shuffle of
    (cluster, dim) cells — k·dim groups, corpus-size-independent.  This
    pair of steps is the building block q_llm_emb_kmeans iterates."""
    em = load_table(spark, sf_dir, "embeddings")
    lab_cvecs = centroid_vectors(
        em.select(F.col("label").alias("ck"), "embedding"), "ck")
    assign = assign_nearest(em, lab_cvecs, "ck").select("vec_id", "cluster")
    members = em.join(assign, "vec_id").select(
        F.col("cluster").alias("ck"), "embedding")
    # the shared element relation (review r12: this was a verbatim
    # re-inline of exploded_elems — the copy r10's refactor removed)
    elems = exploded_elems(members, "ck")
    dims = elems.groupBy("ck", "i").agg(
        (F.sum(F.col("v").cast("decimal(30,8)")).cast("double")
         / F.count("v")).alias("c"),
        F.count(F.lit(1)).alias("n"))
    return (
        dims.groupBy("ck")
        .agg(F.min("n").alias("n_members"),
             F.array_join(
                 F.expr("transform(array_sort(collect_list(struct(i, c))), "
                        "s -> CAST(s.c * 1000000.0D AS BIGINT))"),
                 ",").alias("centroid_u6"))
        .select(F.col("ck").alias("cluster"), "n_members", "centroid_u6")
    )


_KMEANS_K, _KMEANS_MAX_ITERS = 8, 6


def _kmeans_full_oracle() -> str:
    """Closed-form SQL for the FULL iterative k-means (VERDICT r12 #7):
    the Lloyd loop's fixpoint is ABSORBING — once assign_j equals
    assign_{j-1}, cent(assign_j) = cent(assign_{j-1}) so every later
    round reproduces the same assignment and cosines — which means an
    oracle that always unrolls the maximum ``_KMEANS_MAX_ITERS`` rounds
    returns exactly what the early-stopping Spark loop returns, for ANY
    data-dependent convergence round.  Expressions mirror the
    kmeans_update/kmeans_portable oracles cell-for-cell: dec2dbl
    centroid means, ROUND-6 cosines, lowest-ck tie-break."""
    parts = ["""
WITH vec AS (
  -- well-formed vectors only (review r13): Spark's assign path DROPS
  -- NULL/ragged/NULL-element vectors (wf_vectors), and seeds come
  -- from the lowest WELL-FORMED vec_ids in both engines
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
seed AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ck, embedding
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
  ORDER BY vec_id LIMIT 8
),
cent0 AS (
  SELECT ck, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS c
  FROM seed
)"""]
    for r in range(_KMEANS_MAX_ITERS):
        src = f"cent{r}"
        parts.append(f""",
pairs{r} AS (
  SELECT vec.vec_id, {src}.ck,
         ROUND(SUM(vec.v * {src}.c)
           / (sqrt(SUM(vec.v * vec.v)) * sqrt(SUM({src}.c * {src}.c))), 6)
           AS cos_sim
  FROM vec JOIN {src} ON vec.i = {src}.i
  GROUP BY vec.vec_id, {src}.ck
),
asg{r} AS (
  SELECT vec_id, ck AS cluster, cos_sim FROM (
    SELECT vec_id, ck, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, ck) AS rn
    FROM pairs{r}) WHERE rn = 1
)""")
        if r < _KMEANS_MAX_ITERS - 1:
            parts.append(f""",
cent{r + 1} AS (
  SELECT a.cluster AS ck, v.i,
         CAST(CAST(SUM(CAST(v.v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v.v) AS c
  FROM asg{r} a JOIN vec v ON v.vec_id = a.vec_id
  GROUP BY a.cluster, v.i
)""")
    parts.append(f"""
SELECT vec_id, cluster, cos_sim FROM asg{_KMEANS_MAX_ITERS - 1}
""")
    return "".join(parts)


@query("q_llm_emb_kmeans", oracle=_kmeans_full_oracle)
def q_llm_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative spherical k-means (k=8): centroids seeded from the 8
    lowest vec_ids (deterministic — no random init), Lloyd-iterated to
    assignment fixpoint or 6 rounds.  Hash-grade as of r13 (VERDICT r12
    #7): because the Lloyd fixpoint is absorbing, the fully-unrolled
    6-round SQL (``_kmeans_full_oracle``) equals the early-stopping
    loop's output exactly, whatever round convergence lands on —
    graduating this key from the rows-only set the way r10 graduated
    the LSH twin.  Determinism and cluster-coverage invariants remain
    pytest-asserted.

    Scale: each round = broadcast-assign (one corpus scan) + one
    (cluster, dim)-cell shuffle; each round's assignment and centroids
    are a per-round loop cut (localCheckpoint, ``registry.pin``'s
    rule), as in dedup_clusters.  Driver holds only the
    k×dim centroid table."""
    from pyspark.sql import Window
    em = load_table(spark, sf_dir, "embeddings")
    k, max_iters = _KMEANS_K, _KMEANS_MAX_ITERS  # mirrored by the oracle
    w = Window.orderBy("vec_id")
    # seeds = the k lowest WELL-FORMED vec_ids (review r13): a
    # degenerate seed would give NULL cosines here vs partial-dim ones
    # in the oracle's unnest-based cent0
    cvecs = (wf_vectors(em).orderBy("vec_id").limit(k)
             .select((F.row_number().over(w) - 1).alias("ck"),
                     F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                     .alias("cvec")))
    assign = prev = None
    for _ in range(max_iters):
        assign = assign_nearest(em, cvecs, "ck").localCheckpoint()
        if prev is not None:
            changed = (assign.join(
                prev.select("vec_id", F.col("cluster").alias("pc")), "vec_id")
                .filter(F.col("cluster") != F.col("pc")).count())
            if changed == 0:
                break
        prev = assign
        if _ == max_iters - 1:
            break  # a final-round centroid update feeds no further
            # assignment — localCheckpoint would run the full corpus
            # scan + (cluster, dim) shuffle eagerly for nothing (r12)
        cvecs = centroid_vectors(
            em.join(assign.select("vec_id", "cluster"), "vec_id")
            .select(F.col("cluster").alias("ck"), "embedding"),
            "ck").localCheckpoint()
    return assign.select("vec_id", "cluster",
                         F.round("cos_sim", 6).alias("cos_sim"))


@query(
    "q_llm_emb_kmeans_portable",
    oracle="""
WITH seed AS (
  -- lowest WELL-FORMED vec_ids seed the centroids (review r13),
  -- mirroring the wf_vectors guard on the Spark side
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ck, embedding
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
  ORDER BY vec_id LIMIT 8
),
cent AS (
  SELECT ck, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS c
  FROM seed
),
vec AS (
  -- well-formed vectors only (review r13): Spark's assign path DROPS
  -- NULL/ragged/NULL-element vectors (wf_vectors)
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
pairs AS (
  SELECT vec.vec_id, cent.ck,
         ROUND(SUM(vec.v * cent.c)
               / (sqrt(SUM(vec.v * vec.v)) * sqrt(SUM(cent.c * cent.c))),
               6) AS cos_sim
  FROM vec JOIN cent ON vec.i = cent.i
  GROUP BY vec.vec_id, cent.ck
),
best AS (
  SELECT vec_id, ck AS cluster, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, ck) AS rn
  FROM pairs
)
SELECT vec_id, cluster, cos_sim FROM best WHERE rn = 1
""",
)
def q_llm_emb_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-grade twin of ``q_llm_emb_kmeans`` (VERDICT r5 #6): the SAME
    deterministic seeding (centroids = embeddings of the 8 lowest
    vec_ids) and the SAME broadcast Lloyd assignment step, run for
    exactly ONE iteration so the result is closed-form SQL — the oracle
    certifies the seeding + assignment machinery the iterative rows-only
    key loops over (the `_portable` discipline of dedup.py's minhash /
    clusters twins).  Tie-break: lowest cluster id, both engines."""
    from pyspark.sql import Window
    em = load_table(spark, sf_dir, "embeddings")
    w = Window.orderBy("vec_id")
    cvecs = (em.orderBy("vec_id").limit(8)
             .select((F.row_number().over(w) - 1).alias("ck"),
                     F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                     .alias("cvec")))
    return assign_nearest(em, cvecs, "ck").select("vec_id", "cluster", "cos_sim")


_PQ_M, _PQ_D = 8, 8  # 8 subspaces × 8 dims = EMBEDDING_DIM


@query(
    "q_llm_emb_pq_encode",
    oracle="""
WITH lab AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (
  SELECT label, i,
         CAST(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS c
  FROM lab GROUP BY label, i
),
vx AS (
  -- well-formed vectors only (review r12): Spark's encode DROPS
  -- NULL/ragged/NULL-element vectors, so the oracle must too — the
  -- old unrestricted unnest emitted partial codes for ragged vectors
  -- and NULL-skipping sums for NULL elements, semantics no engine's
  -- Spark side implements
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
d AS (
  SELECT vx.vec_id, cent.label, CAST(floor(vx.i / 8.0) AS INT) AS m,
         CAST(CAST(SUM(CAST((vx.x - cent.c) * (vx.x - cent.c)
                            AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS d
  FROM vx JOIN cent ON vx.i = cent.i
  GROUP BY vx.vec_id, cent.label, CAST(floor(vx.i / 8.0) AS INT)
),
pick AS (
  SELECT vec_id, m, label,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, label) AS rn
  FROM d
)
SELECT vec_id, string_agg(CAST(label AS VARCHAR), ',' ORDER BY m) AS pq_code
FROM pick WHERE rn = 1 GROUP BY vec_id
""",
)
def q_llm_emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the memory-side companion to IVF
    for billion-scale ANN: split each vector into M=8 subspaces of 8
    dims, assign every subvector to its nearest sub-centroid, store only
    the M code bytes (64 floats → 8 codes = 32× compression).  The
    codebook here is the deterministic per-label sub-centroid (same
    stand-in as q_llm_emb_ivf_assign; a k-means codebook drops in
    unchanged).

    Parity discipline: centroids via exact-decimal means, subspace
    distances via exact-decimal sums of identical-double squared diffs,
    argmin via lexicographic (d, label) — every step order-independent,
    so the DuckDB oracle hash-matches the full encode.

    Scale: one Arrow-batched projection over the corpus against the
    PERSISTED codebook (pq_codebook, train-once/encode-many) through
    the same property-tested ``pq_code_rows`` core the ADC search uses
    — double-path argmin with the 2e-7 gap guard and exact-decimal
    fallback, so the codes equal the decimal-join form bit-for-bit (the
    unchanged DuckDB oracle re-proves it).  The original shape — a
    per-dim posexplode joined to a broadcast centroid relation, then a
    25M-group decimal aggregate — was wave-8's biggest absolute
    (116.6 s at the 100× fixture); this form runs the same encode in
    3.4 s warm there (14.8 s when the invocation also pays the
    once-per-fixture codebook train).  At 100 TB you train the codebook
    on a sample batch job and encode with exactly this plan."""
    em = load_table(spark, sf_dir, "embeddings")
    pq_codes = pq_codes_udf(pq_codebook(spark, sf_dir))

    return (_spread(em, spark)
            .select("vec_id", pq_codes("embedding").alias("codes"))
            .filter(F.col("codes").isNotNull())
            .select("vec_id",
                    F.array_join(F.expr(
                        "transform(codes, c -> CAST(c AS STRING))"),
                        ",").alias("pq_code")))


_PQ_CB_CACHE: dict[str, "object"] = {}


def pq_codebook(spark: SparkSession, sf_dir: str):
    """Label-sorted PQ codebook matrix C (k × dim float64): the
    exact-decimal per-(label, dim) means pq_adc quantizes against.

    Train-once/search-many (VERDICT r8 #3 — the persisted-quantizer
    pattern ann_index already exhibits): an in-process hit comes from a
    module cache keyed on the fixture CONTENT fingerprint; a
    cross-process hit loads the tiny parquet artifact persisted under
    ``scratch_dir('pqcb2', ...)`` by ``catalog.build_once`` (parquet
    DOUBLE is IEEE binary64, so the matrix round-trips bit-exactly and
    the key's hash grade is unaffected); only a never-before-seen
    fixture runs the training aggregate.  This recovers the eager
    codebook job q_llm_emb_pq_adc paid on every invocation at 1× while
    keeping the vectorized 100× path untouched — at 100 TB the codebook
    is trained by a batch job and shipped as an artifact, never
    re-derived per query."""
    import numpy as np
    import pyarrow.parquet as pqt

    from ..catalog import build_once, fixture_fingerprint, scratch_dir

    key = fixture_fingerprint(sf_dir)
    C = _PQ_CB_CACHE.get(key)
    if C is not None:
        return C

    def write(tmp: str) -> None:
        import pyarrow as pa

        em = load_table(spark, sf_dir, "embeddings")
        cb_rows = sorted(
            centroid_vectors(em.select("label", "embedding"),
                             "label").collect(),
            key=lambda r: r.label)
        pqt.write_table(pa.table({
            "label": pa.array([r.label for r in cb_rows]),
            "cvec": pa.array([list(r.cvec) for r in cb_rows],
                             type=pa.list_(pa.float64())),
        }), os.path.join(tmp, "codebook.parquet"))

    # forward the fingerprint — scratch_dir would otherwise stat-scan
    # the fixture a second time (review r12; the r11 `key` parameter
    # exists for exactly this caller pattern)
    out = build_once(scratch_dir("pqcb2", sf_dir, key=key)[0], write)
    t = pqt.read_table(os.path.join(out, "codebook.parquet"))
    labels = t.column("label").to_numpy()
    vecs = t.column("cvec").to_pylist()
    C = np.array([vecs[i] for i in np.argsort(labels)], dtype=np.float64)
    _PQ_CB_CACHE[key] = C
    return C


def pq_code_rows(V, C, m_: int = _PQ_M, d_: int = _PQ_D):
    """PQ codes for a batch: argmin (distance, label-position) per
    subspace against codebook ``C`` (k × dim float64), with Spark's
    decimal semantics preserved exactly — the q_llm_emb_pq_adc core,
    module-level so property tests drive THE production code path
    (round-7 lesson (b)).

    Double-path distances + 2e-7 gap guard: the decimal-rounded
    distance (Σ of 8 CAST(x AS DECIMAL(30,8)) terms) differs from the
    float64 distance by ≤ ~4.1e-8, so a top-2 gap > 2e-7 proves the
    double argmin equals the decimal argmin; ambiguous cells recompute
    with exact Python decimals (HALF_UP on the exact binary expansion
    — bit-equal to Spark's cast) including the (d, label) tie order."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    q8 = Decimal("1E-8")
    k = len(C)
    sq = (V[:, None, :] - C[None, :, :]) ** 2          # (n, k, dim)
    dsub = sq.reshape(len(V), k, m_, d_).sum(axis=3)   # (n, k, m)
    d_t = np.transpose(dsub, (0, 2, 1))                # (n, m, k)
    codes = np.argmin(d_t, axis=2)
    if k > 1:
        part = np.partition(d_t, 1, axis=2)
        for n_i, m_i in zip(*np.nonzero(
                part[..., 1] - part[..., 0] <= 2e-7)):
            best = None
            for c in range(k):
                s_dec = Decimal(0)
                for j in range(d_):
                    s_dec += Decimal(
                        float(sq[n_i, c, m_i * d_ + j])
                    ).quantize(q8, ROUND_HALF_UP)
                if best is None or (s_dec, c) < best:
                    best, codes[n_i, m_i] = (s_dec, c), c
    return codes.astype(np.int32)


def pq_codes_udf(C):
    """Arrow-batched corpus encoder shared by q_llm_emb_pq_encode and
    q_llm_emb_pq_adc: embedding → array<int> of the M sub-codes against
    codebook ``C`` (``pq_code_rows``).  Every row that
    ``well_formed_rows`` drops maps to NULL.  Both callers filter those
    rows out, which is why the UDF is built with ``evaluate_once``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    dim = _PQ_M * _PQ_D

    @evaluate_once
    @F.pandas_udf(ArrayType(IntegerType()))
    def pq_codes(vec):
        # a degenerate vector must map to NULL: the argmin over nan
        # distances returns code 0 — a valid-looking but arbitrary code
        # (review r12)
        pos, V = well_formed_rows(vec, dim)
        out = [None] * len(vec)
        for i, codes in zip(pos, pq_code_rows(V, C)):
            out[i] = codes
        return pd.Series(out)

    return pq_codes


@query(
    "q_llm_emb_pq_adc",
    oracle="""
WITH lab AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (
  SELECT label, i,
         CAST(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS c
  FROM lab GROUP BY label, i
),
vx AS (
  -- well-formed vectors only (review r12): Spark's encode DROPS
  -- NULL/ragged/NULL-element vectors, so the oracle must too — the
  -- old unrestricted unnest emitted partial codes for ragged vectors
  -- and NULL-skipping sums for NULL elements, semantics no engine's
  -- Spark side implements
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
d AS (
  SELECT vx.vec_id, cent.label, CAST(floor(vx.i / 8.0) AS INT) AS m,
         CAST(CAST(SUM(CAST((vx.x - cent.c) * (vx.x - cent.c)
                            AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS d
  FROM vx JOIN cent ON vx.i = cent.i
  GROUP BY vx.vec_id, cent.label, CAST(floor(vx.i / 8.0) AS INT)
),
codes AS (  -- corpus PQ codes: argmin centroid per (vector, subspace)
  SELECT vec_id, m, label AS code
  FROM (SELECT vec_id, m, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d, label) AS rn
        FROM d WHERE vec_id >= 10) WHERE rn = 1
),
-- ADC: query's exact distance to each centroid per subspace (the
-- lookup table), joined to corpus codes and summed over subspaces.
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(CAST(SUM(CAST(d.d AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           AS adc_dist
  FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 10) q
  JOIN d ON d.vec_id = q.vec_id
  JOIN codes c ON c.m = d.m AND c.code = d.label
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, cand_id, adc_dist,
       CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, cand_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, cand_id) AS rnk
  FROM adc
) WHERE rnk <= 5
""",
)
def q_llm_emb_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (ADC), completing the PQ story of
    q_llm_emb_pq_encode: queries keep full precision, the corpus is
    represented ONLY by its M=8 sub-codes, and distance(query, cand) =
    Σ_m LUT_q[m][code_m] where the lookup table holds the query's exact
    distance to every sub-centroid.  Approximate in value (quantization
    error) yet fully deterministic — so unlike most ANN operators it is
    hash-grade oracle-checkable end-to-end.

    Vectorized r8 (VERDICT r7 #4) with the decimal semantics PRESERVED
    EXACTLY — this key's old per-(vector, label, subspace) BigDecimal
    LUT math was interpreted expression evaluation (~98% of its 123 s
    at the 100× fixture):

    - CORPUS CODES move to an Arrow UDF: squared diffs in float64
      (elementwise IEEE ops, identical values to the old zip_with),
      double-path argmin per subspace plus a 2e-7 GAP GUARD — the
      decimal-rounded distance differs from the double distance by
      ≤ 4.1e-8 (8 terms × half-ulp-of-1e-8 + float-sum error), so when
      the top-2 gap exceeds 2e-7 the decimal argmin provably equals the
      double argmin; ambiguous (row, subspace) cells fall back to exact
      Python-decimal HALF_UP arithmetic (bit-equal to Spark's
      CAST(x AS DECIMAL(30,8)): both round the exact binary expansion),
      including the (d, label) tie order.
    - The QUERY LUT (|queries| × M × k values) is computed driver-side
      with exact Python decimals, scaled by 1e8 to INT64 (a
      decimal(30,8) IS an int64 at this magnitude), and shipped as a
      JVM-local relation: one literal inlined over a one-row Range.
      Its broadcast runs a single JVM task; no pickled Python RDD, no
      Python tasks, no extra Python workers.
    - The corpus encode UDF runs once, above the _spread exchange
      (``evaluate_once``): the codes filter is never pushed below it.
    - The PAIR stage sums 8 int64 LUT entries per (candidate, query) in
      whole-stage codegen (long adds — it was decimal adds) and divides
      by 1e8: double(S)/1e8 is correctly rounded, which equals Spark's
      decimal→double cast of S·10⁻⁸ exactly.

    The DuckDB oracle is UNCHANGED — the hash equality of this rewrite
    against the same oracle (re-verified at sf0.01 AND the 10× fixture
    after the rewrite), plus the pq_code_rows guard property test on
    adversarial decimal-grain collisions (tests/test_llm.py), is the
    proof the numerics moved without drifting.  (The old JVM pipeline
    is gone, so there is no live old-vs-new A/B — the oracle IS the
    old semantics.)  NULL/ragged vectors degrade to dropped candidates
    (pytest-pinned), as in the IVF/LSH paths.  Top-k via the same
    (dist, cand_id) total order as the exact searches."""
    import json
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    em = load_table(spark, sf_dir, "embeddings")
    # Trained quantizer, persisted train-once/search-many (VERDICT r8
    # #3): first-ever invocation per fixture content trains it, every
    # later one loads the bit-exact artifact — see pq_codebook.
    C = pq_codebook(spark, sf_dir)
    k = len(C)
    m_, d_ = _PQ_M, _PQ_D
    Q8 = Decimal("1E-8")

    # Query LUT: exact decimals driver-side, scaled to int64.  Query
    # vectors via the shared driver-side pyarrow reader.
    from .similarity import read_query_slice
    qt = read_query_slice(sf_dir)
    lut_rows = []
    for qid, qv in zip(qt.vec_id, qt.embedding):
        if qv is None or len(qv) != m_ * d_ or np.isnan(
                np.asarray(qv, dtype=np.float64)).any():
            continue  # degenerate QUERY vectors drop like corpus ones
            # (review r12: np.asarray(None) - C crashed the driver)
        sq = (np.asarray(qv, dtype=np.float64) - C) ** 2  # (k, dim) IEEE
        flat = []
        for m in range(m_):
            for c in range(k):
                s_int = 0
                for j in range(d_):
                    s_int += int(Decimal(float(sq[c, m * d_ + j]))
                                 .quantize(Q8, ROUND_HALF_UP).scaleb(8))
                flat.append(s_int)
        lut_rows.append({"query_id": int(qid), "lut": flat})
    # JVM-local relation: one literal inlined over a one-row Range, so
    # the broadcast runs one JVM task.  spark.createDataFrame(<list>)
    # would pickle the rows into a Python RDD (Scan ExistingRDD) whose
    # broadcast job runs Python tasks and grows the worker pool.  JSON
    # integers parse into bigint exactly, and "[]" is a typed empty LUT.
    qlut = spark.range(1, numPartitions=1).select(F.inline(F.from_json(
        F.lit(json.dumps(lut_rows)),
        "array<struct<query_id: bigint, lut: array<bigint>>>")))

    # Spread the single-split fixture scan so the Arrow batches run
    # all-core (conditional — see _spread).
    codes_df = (
        _spread(em.filter(F.col("vec_id") >= 10), spark)
        .select(F.col("vec_id").alias("cand_id"),
                pq_codes_udf(C)("embedding").alias("codes"))
        .filter(F.col("codes").isNotNull())
    )
    adc_terms = " + ".join(f"lut[{m} * {k} + codes[{m}]]" for m in range(m_))
    scored = (
        codes_df.crossJoin(F.broadcast(qlut))
        .select("query_id", "cand_id",
                (F.expr(f"CAST({adc_terms} AS DOUBLE)")
                 / F.lit(1.0e8)).alias("adc_dist"))
    )
    top = partitioned_topk(
        scored.select("query_id", "cand_id",
                      (-F.col("adc_dist")).alias("cos_sim")),
        "query_id", 5)
    return top.select("query_id", "cand_id",
                      (-F.col("cos_sim")).alias("adc_dist"),
                      F.col("rank").cast("long").alias("rank"))


# try_element_at, not element_at: a short vector degrades to unset bits
# instead of ANSI-throwing INVALID_ARRAY_INDEX (review r11 — the same
# trap minhash's signature already dodges in dedup.py).
_BQ_PACK_S = """
    aggregate(sequence(0, 31), CAST(0 AS BIGINT),
              (acc, i) -> acc + IF(try_element_at(xe, i + {base} + 1) > 0,
                                   shiftleft(CAST(1 AS BIGINT), i),
                                   CAST(0 AS BIGINT)))"""


@query(
    "q_llm_emb_binarize",
    oracle="""
WITH vx AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
SELECT vec_id,
       CAST(SUM(CASE WHEN i <= 32 AND v > 0
                     THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END)
            AS BIGINT) AS w1,
       CAST(SUM(CASE WHEN i > 32 AND v > 0
                     THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END)
            AS BIGINT) AS w2,
       CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bits
FROM vx GROUP BY vec_id
""",
)
def q_llm_emb_binarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization: each 64-dim float vector packs into TWO
    sign-bit words (64 floats → 16 bytes, 16× compression) — the 1-bit
    BQ representation modern vector stores rank with before exact
    re-scoring.  Two 32-bit halves in BIGINTs rather than one 64-bit
    word: bit 63 would need shiftleft(1L, 63), whose signed wrap Spark
    permits but DuckDB rejects as overflow — the split keeps the packing
    portable and overflow-free in both engines.  Integer output ⇒
    hash-exact with no float discipline at all.

    Scale: pure projection via one aggregate() HOF per word — no
    shuffle, no explode; the packed table is what ships to the ANN
    stage (q_llm_sim_hamming_topk)."""
    em = load_table(spark, sf_dir, "embeddings")
    # NULL **and empty** embeddings drop to match the oracle's unnest,
    # which emits no row for either (review r11 caught NULL; review r12
    # caught []: the HOF otherwise fabricated an all-zeros signature
    # that would rank as a genuine Hamming match downstream)
    xe = em.filter(F.size("embedding") > 0).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("xe"))
    w1 = F.expr(_BQ_PACK_S.format(base=0))
    w2 = F.expr(_BQ_PACK_S.format(base=32))
    nb = F.expr("CAST(size(filter(xe, v -> v > 0)) AS BIGINT)")
    return xe.select("vec_id", w1.alias("w1"), w2.alias("w2"),
                     nb.alias("n_bits"))


@query(
    "q_llm_emb_matryoshka",
    oracle="""
WITH vx AS (
  -- complete heads only (review r12): a ragged (<16-dim) or
  -- NULL-element head previously made the oracle emit partial-dims
  -- rows while Spark emitted NULL-poisoned 16-dim rows — MRL
  -- truncation is defined over vectors with a complete head, both
  -- sides now drop the rest
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE len(embedding) >= 16
    AND len(list_filter(embedding[1:16], x -> x IS NULL)) = 0
),
head AS (SELECT vec_id, i, v FROM vx WHERE i <= 16),
nrm AS (
  SELECT vec_id,
         sqrt(CAST(CAST(SUM(CAST(v * v AS DECIMAL(30,8))) AS VARCHAR)
                   AS DOUBLE)) AS n
  FROM head GROUP BY vec_id
)
SELECT h.vec_id,
       ROUND(SUM(CASE WHEN i = 1 THEN v END) / ANY_VALUE(n), 6) AS x0,
       ROUND(SUM(CASE WHEN i = 16 THEN v END) / ANY_VALUE(n), 6) AS x15,
       ROUND(ANY_VALUE(n), 6) AS head_norm,
       COUNT(*) AS dims
FROM head h JOIN nrm USING (vec_id)
GROUP BY h.vec_id
""",
)
def q_llm_emb_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. 2022, arXiv 2205.13147):
    keep the first 16 of 64 dimensions and re-normalize to unit length —
    the standard cheap-first-pass representation for MRL-trained
    embeddings (4× less storage/bandwidth; rank with the head, re-score
    survivors with the full vector).  Exposed hash-grade via the first
    and last head components + the head norm (the full truncated array
    is deterministic the same way; projecting scalars keeps the oracle's
    column comparison exact).  Norm discipline: Σv² accumulates in exact
    decimal (order-independent), sqrt is one correctly-rounded libm call
    in both engines, ROUND(...,6) seals the per-row doubles.

    Scale: a pure projection — no shuffle, no UDF; the truncation
    happens inside whole-stage codegen at scan speed, which is the whole
    argument for Matryoshka at 100 TB (re-embedding costs a GPU fleet;
    slicing costs a scan)."""
    from ..catalog import load_table

    em = load_table(spark, sf_dir, "embeddings")
    head = F.expr("transform(slice(embedding, 1, 16), "
                  "x -> CAST(x AS DOUBLE))")
    # NULL embeddings are dropped to match the oracle's unnest (which
    # emits no rows for them — review r11: Spark otherwise fabricated a
    # present-with-NULLs row); short vectors degrade via try_element_at
    # instead of ANSI-throwing, and a zero head norm yields NULL
    # components like DuckDB's x/0.0 — not NaN.
    return (em.filter(
                (F.size("embedding") >= 16)
                & (F.expr("size(filter(slice(embedding, 1, 16), "
                          "x -> x IS NULL))") == 0))
            .select("vec_id", head.alias("h"))
            .select(
                "vec_id", "h",
                # Σv² in exact decimal WITHOUT a HOF accumulator (a decimal
                # accumulator can't type-check — precision grows per add
                # and the 38 cap sheds scale; same trap the PQ LUT hit):
                # two unrolled 8-term chunks peak at (37,8), each cast
                # back to (30,8) exactly (values ≤ 8), then one add.
                F.sqrt(F.expr(
                    "CAST(CAST(CAST(try_element_at(h, 1) * try_element_at(h, 1) AS DECIMAL(30,8)) + CAST(try_element_at(h, 2) * try_element_at(h, 2) AS DECIMAL(30,8)) + CAST(try_element_at(h, 3) * try_element_at(h, 3) AS DECIMAL(30,8)) + CAST(try_element_at(h, 4) * try_element_at(h, 4) AS DECIMAL(30,8)) + CAST(try_element_at(h, 5) * try_element_at(h, 5) AS DECIMAL(30,8)) + CAST(try_element_at(h, 6) * try_element_at(h, 6) AS DECIMAL(30,8)) + CAST(try_element_at(h, 7) * try_element_at(h, 7) AS DECIMAL(30,8)) + CAST(try_element_at(h, 8) * try_element_at(h, 8) AS DECIMAL(30,8)) AS DECIMAL(30,8)) "
                    "+ CAST(CAST(try_element_at(h, 9) * try_element_at(h, 9) AS DECIMAL(30,8)) + CAST(try_element_at(h, 10) * try_element_at(h, 10) AS DECIMAL(30,8)) + CAST(try_element_at(h, 11) * try_element_at(h, 11) AS DECIMAL(30,8)) + CAST(try_element_at(h, 12) * try_element_at(h, 12) AS DECIMAL(30,8)) + CAST(try_element_at(h, 13) * try_element_at(h, 13) AS DECIMAL(30,8)) + CAST(try_element_at(h, 14) * try_element_at(h, 14) AS DECIMAL(30,8)) + CAST(try_element_at(h, 15) * try_element_at(h, 15) AS DECIMAL(30,8)) + CAST(try_element_at(h, 16) * try_element_at(h, 16) AS DECIMAL(30,8)) AS DECIMAL(30,8)) "
                    "AS DOUBLE)")).alias("n"))
            .select(
                "vec_id",
                F.round(F.when(F.col("n") != 0.0,
                               F.expr("try_element_at(h, 1)") / F.col("n")),
                        6).alias("x0"),
                F.round(F.when(F.col("n") != 0.0,
                               F.expr("try_element_at(h, 16)") / F.col("n")),
                        6).alias("x15"),
                F.round("n", 6).alias("head_norm"),
                F.lit(16).cast("long").alias("dims")))


@query(
    "q_llm_emb_whiten",
    oracle="""
WITH vx AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
st AS (
  -- COUNT(v), not COUNT(*): the Spark side's davg divides by the
  -- non-NULL count (the standard NULL-skipping mean), so a NULL
  -- element in dim 0/63 previously diverged mu/sd between the
  -- engines (review r12)
  SELECT i,
         CAST(CAST(SUM(CAST(v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS mu,
         CAST(CAST(SUM(CAST(v * v AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(v) AS m2,
         COUNT(v) AS n
  FROM vx WHERE i IN (0, 63) GROUP BY i
),
p AS (
  SELECT MAX(CASE WHEN i = 0 THEN mu END) AS mu0,
         MAX(CASE WHEN i = 0 THEN sqrt(m2 - mu * mu) END) AS sd0,
         MAX(CASE WHEN i = 63 THEN mu END) AS mu63,
         MAX(CASE WHEN i = 63 THEN sqrt(m2 - mu * mu) END) AS sd63
  FROM st
)
SELECT vec_id,
       ROUND((embedding[1] - mu0) / sd0, 6) AS w0,
       ROUND((embedding[64] - mu63) / sd63, 6) AS w63
FROM embeddings, p
""",
)
def q_llm_emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (whitening without rotation):
    w_i = (x_i − μ_i)/σ_i — the embedding-preproc step that evens out
    dimension scales before PQ sub-quantizers or k-means so no
    dimension dominates the distance.  Certified on the first and last
    dimensions (the full transform is the same per-dim arithmetic).
    Moments accumulate in exact decimal (order-independent); variance
    is the explicit E[x²]−E[x]² in BOTH engines (never the built-in
    STDDEV — different algorithm, different last-ulp); sqrt and the
    final divide are single correctly-rounded IEEE ops.

    Scale: the stats side collapses to |dims| rows (map-side combined)
    and broadcasts; the transform is then a pure projection over one
    corpus scan — the same no-shuffle shape as matryoshka."""
    em = load_table(spark, sf_dir, "embeddings")
    vx = em.select("vec_id", F.posexplode("embedding").alias("i", "v")) \
           .select("i", F.col("v").cast("double").alias("v")) \
           .filter(F.col("i").isin(0, 63))
    from ..numerics import davg
    st = vx.groupBy("i").agg(
        davg(F.col("v"), "mu"),
        davg(F.col("v") * F.col("v"), "m2"))
    p = st.agg(
        F.max(F.when(F.col("i") == 0, F.col("mu"))).alias("mu0"),
        F.max(F.when(F.col("i") == 0,
                     F.sqrt(F.col("m2") - F.col("mu") * F.col("mu"))))
        .alias("sd0"),
        F.max(F.when(F.col("i") == 63, F.col("mu"))).alias("mu63"),
        F.max(F.when(F.col("i") == 63,
                     F.sqrt(F.col("m2") - F.col("mu") * F.col("mu"))))
        .alias("sd63"))
    # try_element_at: a short vector degrades to NULL components like
    # DuckDB's out-of-bounds list extract, instead of ANSI-throwing;
    # a zero/NULL sd yields NULL like DuckDB's x/0.0 (review r11).
    x = F.expr("CAST(try_element_at(embedding, 1) AS DOUBLE)")
    y = F.expr("CAST(try_element_at(embedding, 64) AS DOUBLE)")
    return (em.crossJoin(F.broadcast(p))
            .select("vec_id",
                    F.round(F.when(F.col("sd0") != 0.0,
                                   (x - F.col("mu0")) / F.col("sd0")),
                            6).alias("w0"),
                    F.round(F.when(F.col("sd63") != 0.0,
                                   (y - F.col("mu63")) / F.col("sd63")),
                            6).alias("w63")))


@query(
    "q_llm_emb_norm_stats",
    oracle=f"""
WITH norms AS (
  -- nrm is NULL for degenerate vectors (NULL / empty / NULL-element)
  -- in BOTH engines (review r13): unguarded, DuckDB's list_sum SKIPS
  -- NULL elements (partial norm) and returns NULL on [] while Spark's
  -- fold NULL-propagates and returns 0.0 on [] — four different
  -- behaviors for rows no fixture plants but a regenerated one might
  SELECT vec_id, label,
         CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
                   AND len(list_filter(embedding, x -> x IS NULL)) = 0
              THEN ROUND(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
         END AS nrm
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm,
       ROUND({sql_dsum9('nrm')} / COUNT(*), 6) AS avg_norm,
       COUNT(CASE WHEN ABS(nrm - 1.0) > 0.01 THEN 1 END) AS n_unnormalized,
       COUNT(CASE WHEN nrm = 0.0 THEN 1 END) AS n_zero
FROM norms
GROUP BY label
""",
)
def q_llm_emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality gate: the per-label norm distribution — the
    sanity check a pipeline runs BEFORE any cosine/ANN stage, because
    un-normalized or zero vectors silently poison every dot-product
    ranking downstream.  Per-row norms round at 1e-6 (the sequential
    array fold is the same order in both engines; rounding removes the
    last-ulp sqrt risk) and aggregate through the dsum9 exact-decimal
    discipline.  Scale: pure projection + one tiny per-label rollup —
    scan-bound at any corpus size."""
    em = load_table(spark, sf_dir, "embeddings")
    # mirror the oracle's degenerate-vector guard: nrm NULL unless the
    # vector is non-NULL, non-empty, and NULL-element-free — n_vecs
    # still counts every row, the norm stats skip the unmeasurable ones
    wf = (F.col("embedding").isNotNull()
          & (F.size("embedding") > 0)
          & (F.size(F.filter("embedding", lambda x: x.isNull())) == 0))
    nrm = F.when(wf, F.round(_norm("embedding"), 6))
    return (
        em.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.round(F.min("nrm"), 6).alias("min_norm"),
             F.round(F.max("nrm"), 6).alias("max_norm"),
             F.round(dsum9(F.col("nrm")) / F.count(F.lit(1)), 6)
              .alias("avg_norm"),
             F.count(F.when(F.abs(F.col("nrm") - 1.0) > 0.01, 1))
              .alias("n_unnormalized"),
             F.count(F.when(F.col("nrm") == 0.0, 1)).alias("n_zero"))
    )
