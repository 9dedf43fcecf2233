"""§2.10 Deduplication operators over ``documents``.

Five dedup modes, as a training-data pipeline needs them:

- exact (normalized-hash groupBy)              → oracle-checked
- SimHash (portable-hash bit signature)        → oracle-checked
- n-gram Jaccard all-pairs                     → oracle-checked
- MinHash + LSH banding                        → rows-only (+ pytest on
  planted near-duplicates; uses native murmur3 — the 100 TB hot path)
- embedding-cosine near-dup                    → oracle-checked

Scale shape: every mode is tokenize/hash (scan) → keyed shuffle →
bounded self-join on bucket keys.  Nothing quadratic on the full corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_documents, load_table, table_rows
from ..registry import pin, query
from .similarity import _DUCK_PAIRS, cosine, duck_pair_cosine
from .text import _DUCK_TOKENS, _ORACLE_MAX_TOKENS, _SPARK_TOKENS


def minhash_lsh_params(tau: float = 0.5,
                       target_recall: float = 0.9) -> tuple[int, int]:
    """(rows_per_band, n_bands) for MinHash banding, computed from the
    target Jaccard threshold and recall instead of fixture-frozen
    constants (VERDICT r1 #6).

    A pair with Jaccard j agrees on one minhash with probability j, on a
    whole r-row band with j^r, and collides in ≥1 of b bands with
    1 − (1 − j^r)^b.  Among the (r, b) meeting the recall target at
    j = tau, pick the fewest total hashes r·b; r ≥ 2 keeps random-pair
    false positives negligible (E[collisions] ≈ n²·E[j_rand^r]).
    Unlike hyperplane LSH, bucket cardinality here is the hash range —
    occupancy is driven by true duplicate density, not corpus size, so
    no n_rows argument is needed.
    """
    best: tuple[int, int] | None = None
    for r in range(2, 9):
        p_band = tau ** r
        b = (1 if p_band >= 1.0 else math.ceil(
            math.log(max(1.0 - target_recall, 1e-12))
            / math.log(1.0 - p_band)))
        if best is None or r * b < best[0] * best[1]:
            best = (r, b)
    return best


_MINHASH_R, _BANDS = minhash_lsh_params()   # (2, 9) at tau=0.5, recall=0.9
_MINHASH_K = _MINHASH_R * _BANDS            # permutations


@query(
    "q_llm_dedup_exact",
    oracle="""
SELECT MIN(doc_id) AS doc_id,
       md5(lower(trim(text))) AS text_hash,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(lower(trim(text)))
""",
)
def q_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized text hash: keep the lowest doc_id per
    hash group, report group size.  A plain 2-phase aggregate (min +
    count per hash) — no window sort; at 100 TB this is one partial-
    combined shuffle of 16-byte keys."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        docs.groupBy(h.alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "text_hash", "n_copies")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → (mhs, bkts): the k = r·b minhashes over 3-word shingles
    and the b LSH band buckets ``bkts[bnd] = hash(slice(mhs, bnd·r+1,
    r))`` that :func:`lsh_candidate_pairs` joins on.

    The JVM does what it is fastest at: tokenizing and murmur3-hashing
    each token string ONCE (native codegen).  ONE Arrow-batched pandas
    UDF receives only the packed int token-hash arrays (~4 B/token over
    Arrow) and computes shingle hashes, per-permutation minima and band
    buckets with ``spark_murmur3_int`` — the numpy re-implementation of
    Spark's ``hash(int, int)``.  The same arithmetic as array HOFs never
    enters codegen: its k·|shingles| interpreted evals were ~28 s of the
    36 s signature stage at the 100× fixture (~7 s vectorized), and the
    interpreted hash(slice) banding re-ran on each of the banding
    stage's three scans of the checkpointed signatures.

    Each token hash seeds its 3-shingle int mix (no string concat), and
    ``hash(h, p)`` over the shingle hash h is permutation p; a
    multiply-add-mod universal hash is NOT a valid permutation family
    here (with a·h < 2^61 the Mersenne modulus almost never wraps, every
    "permutation" preserves the base ordering, and all bands pick the
    same argmin shingle — measured 7× candidate-pair inflation).  Band
    buckets follow the array-hash fold law: hash(arr) folds hashInt
    over the elements from seed 42, the law the hash-green DuckDB
    oracle re-implements.

    Pinned bit-identical to the interpreted HOF reference forms in
    tests/reference_forms.py, including 0/1/2-token and null-text docs.
    A pure projection over the scan: no shuffle, no explode, no
    100×-row intermediate — the plan-shape test asserts no Exchange."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from .similarity import spark_murmur3_int

    r_rows, n_bands, k = _MINHASH_R, _BANDS, _MINHASH_K
    out_type = StructType([StructField("mhs", ArrayType(IntegerType())),
                           StructField("bkts", ArrayType(IntegerType()))])

    @F.pandas_udf(out_type)
    def mh_sig(th_col):
        vals = th_col.to_numpy()
        n = len(vals)
        # A NULL token array behaves as zero tokens — the HOF form's
        # greatest(size(null) - 2, 1) SKIPS the null (Spark's greatest
        # ignores null args), so null-text docs get the same one
        # zero-padded shingle an empty-token doc gets.
        m = np.fromiter(
            ((len(v) if v is not None else 0) for v in vals),
            dtype=np.int64, count=n)
        n_docs = n
        # Each doc's token hashes scatter into a zero-padded flat array
        # (3 trailing zero slots per doc) so every shingle read
        # th[i], th[i+1], th[i+2] — including the <3-token degenerate
        # forms, which coalesce missing positions to 0 in the HOF — is
        # three plain slices of one array.
        padded = m + 3
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(padded[:-1], out=starts[1:])
        flat = np.zeros(int(padded.sum()), dtype=np.uint32)
        total_tok = int(m.sum())
        if total_tok:
            tok_starts = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(m[:-1], out=tok_starts[1:])
            local = np.arange(total_tok, dtype=np.int64) - np.repeat(tok_starts, m)
            flat[np.repeat(starts, m) + local] = np.concatenate(
                [np.asarray(v) for v in vals
                 if v is not None and len(v)]).astype(np.uint32)
        # One shingle row per window; docs with <3 tokens emit exactly
        # one (zero-padded) shingle — sequence(1, greatest(size-2, 1)).
        n_sh = np.maximum(m - 2, 1)
        total_sh = int(n_sh.sum())
        sh_starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(n_sh[:-1], out=sh_starts[1:])
        pos = (np.repeat(starts, n_sh)
               + np.arange(total_sh, dtype=np.int64) - np.repeat(sh_starts, n_sh))
        # hash(a, b, c) folds per-field: hashInt(c, hashInt(b, hashInt(a, 42)))
        h = spark_murmur3_int(flat[pos], np.uint32(42))
        h = spark_murmur3_int(flat[pos + 1], h)
        h = spark_murmur3_int(flat[pos + 2], h)
        # hash(h, p) = hashInt(p, hashInt(h, 42)); minima compare SIGNED
        s1 = spark_murmur3_int(h, np.uint32(42))
        sig = np.empty((n_docs, k), dtype=np.int32)
        one = np.ones(1, dtype=np.uint32)  # 1-elem array: no scalar-overflow warns
        for p in range(k):
            hp = spark_murmur3_int(one * np.uint32(p), s1).view(np.int32)
            sig[:, p] = np.minimum.reduceat(hp, sh_starts)
        # Band buckets by the array-hash fold law: per band, chain
        # hashInt over the r signature minima from seed 42 — the exact
        # ints hash(slice(mhs, bnd*r+1, r)) yields JVM-side.
        bk = np.empty((n_docs, n_bands), dtype=np.int32)
        for bnd in range(n_bands):
            h = np.full(n_docs, 42, dtype=np.uint32)
            for j in range(r_rows):
                h = spark_murmur3_int(sig[:, bnd * r_rows + j], h)
            bk[:, bnd] = h.view(np.int32)
        return pd.DataFrame({"mhs": list(sig), "bkts": list(bk)})

    return (docs.select("doc_id", F.expr(_SPARK_TOKENS).alias("ts"))
            .select("doc_id", F.expr("transform(ts, t -> hash(t))").alias("th"))
            .select("doc_id", mh_sig("th").alias("_s"))
            .select("doc_id", F.col("_s.mhs").alias("mhs"),
                    F.col("_s.bkts").alias("bkts")))


def lsh_candidate_pairs(sig: DataFrame,
                        min_est_jaccard: float = 0.0,
                        max_bucket_width: int = 64) -> DataFrame:
    """LSH banding over :func:`minhash_signatures` output (doc_id, mhs,
    bkts) → (id_a, id_b, est_jaccard).

    ``posexplode("bkts")`` emits one (band, bkt) row per doc and band —
    a codegen'd generator, so none of the three scans of the
    signatures (hot-width aggregate + both self-join sides) evaluates
    an interpreted HOF.  The packed ``mhs`` and ``bkts`` arrays ride
    THROUGH the banding self-join, so the whole operator is ONE equi
    shuffle on (band, bucket): agreement count and first-colliding band
    both compute from the arrays already on the joined row, with no
    signature-table rejoin (at k=18×4B the arrays add ~80B per banded
    row, a wash against re-shuffling the signature relation twice).

    Pair dedup does NOT use a global ``.distinct()`` (a full extra
    shuffle of the candidate set — 3.35 s of the r1 bench): a pair that
    collides in several bands is instead kept only on its FIRST
    colliding band — the joined band is by construction a colliding one,
    so each pair survives exactly once.  "Colliding" here means BUCKET
    equality (the same equality the join key uses), a ``zip_with`` over
    the two packed ``bkts`` arrays.  It equals true slice equality
    modulo 32-bit murmur3 collisions (a band whose slices differ but
    hash equal — P≈2⁻³² per band); re-deriving slice equality per joined
    row was ~15 s of the 18.5 s pair stage at the 10× fixture, with
    row-identical output at the 1×/10×/100× fixtures.  est_jaccard =
    fraction of agreeing minhashes, computed only on the surviving
    (post-dedup) rows.

    Hot-bucket cap (VERDICT r5 #2): the banding self-join is O(f²) in
    bucket width f, so one boilerplate mega-bucket (license headers,
    templated pages — 10⁵ docs in a 100 TB corpus) would emit 10¹⁰
    candidate pairs on its own.  Buckets wider than ``max_bucket_width``
    are dropped before the self-join — standard production-LSH practice:
    a mega-bucket is near-certainly boilerplate, which exact dedup
    upstream already collapses, and every member still has b−1 other
    bands to collide in.  The width count is a tiny map-side-combined
    aggregate on the (band, bucket) keys; the hot list is broadcast and
    anti-joined, and pinned: each self-join side broadcasts it, and the
    two broadcasts are not reused.  Interaction with the
    first-colliding-band dedup below: a pair whose FIRST colliding band
    fell in a dropped bucket is dropped entirely (its later-band rows
    fail the first-band filter) rather than retried on surviving bands —
    deliberate: first-collision-inside-a-mega-bucket is itself a
    boilerplate signal, and re-deriving "first SURVIVING band" would
    reintroduce the per-pair shuffle the first-band trick exists to
    avoid."""
    banded = sig.select("doc_id", "mhs", "bkts",
                        F.posexplode("bkts").alias("band", "bkt"))
    hot = pin(banded.groupBy("band", "bkt")
              .agg(F.count(F.lit(1)).alias("bw"))
              .filter(F.col("bw") > max_bucket_width)
              .select("band", "bkt"))
    banded = banded.join(F.broadcast(hot), ["band", "bkt"], "left_anti")

    a = banded.select(F.col("doc_id").alias("id_a"),
                      F.col("mhs").alias("mhs_a"),
                      F.col("bkts").alias("bkts_a"), "band", "bkt")
    b_side = banded.select(F.col("doc_id").alias("id_b"),
                           F.col("mhs").alias("mhs_b"),
                           F.col("bkts").alias("bkts_b"), "band", "bkt")
    first_band = F.array_position(
        F.expr("zip_with(bkts_a, bkts_b, (x, y) -> x = y)"),
        F.lit(True)) - 1
    agree = F.expr("size(filter(zip_with(mhs_a, mhs_b, (x, y) -> x = y), v -> v))")
    pairs = (
        a.join(b_side, ["band", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("band") == first_band)
        .select("id_a", "id_b",
                (agree / F.lit(float(_MINHASH_K))).alias("est_jaccard"))
    )
    if min_est_jaccard > 0:
        pairs = pairs.filter(F.col("est_jaccard") >= min_est_jaccard)
    return pairs


# ---------------------------------------------------------------------------
# Hash-grade DuckDB oracle for q_llm_dedup_minhash (r14, VERDICT r13 #5).
#
# The key was rows-only since r1 because its signatures are Spark
# murmur3 ("engine-specific hash").  Engine-specific is not
# engine-UNDEFINED: Murmur3_x86_32 with Spark's seeding/tail rules is a
# pure 32-bit wrapping-arithmetic spec, and DuckDB can evaluate it
# exactly with UBIGINT ops mod 2^32 — so the oracle below re-implements
# the ENTIRE pipeline (token string hash → shingle int-mix chain → k
# permutations → signed minima → band buckets → hot-bucket cap → banded
# self-join → first-colliding-band dedup → est-Jaccard → mate rollup)
# in ONE static SQL statement, independently of every line of the Spark
# path.  Parity of the SQL murmur3 primitives with JVM hash() is
# additionally pinned elementwise in tests/test_llm.py (strings of all
# tail lengths incl. multibyte; the int chain was already pinned via
# spark_murmur3_int).  Token byte length is bounded by the generated
# word-unroll (_MM3_MAX_TOKEN_BYTES) — a loud fixture test enforces the
# bound, the _ORACLE_MAX_TOKENS discipline.

_MM3_MAX_TOKEN_BYTES = 40
_MM3_M = 1 << 32


def _mm3_mixk1(x: str) -> str:
    k = f"((({x}) * 3432918353) % {_MM3_M})"
    rot = f"(({k}) * 32768 % {_MM3_M} | ({k}) // 131072)"
    return f"(({rot}) * 461845907 % {_MM3_M})"


def _mm3_mixh1(h: str, k1: str) -> str:
    t = f"(xor(({h}), {k1}))"
    rot = f"((({t}) * 8192) % {_MM3_M} | ({t}) // 524288)"
    return f"((({rot}) * 5 + 3864292196) % {_MM3_M})"


def _mm3_fmix(h: str, ln: str) -> str:
    h0 = f"(xor(({h}), CAST({ln} AS UBIGINT)))"
    h1 = f"(xor(({h0}), ({h0}) // 65536))"
    h2 = f"((({h1}) * 2246822507) % {_MM3_M})"
    h3 = f"(xor(({h2}), ({h2}) // 8192))"
    h4 = f"((({h3}) * 3266489909) % {_MM3_M})"
    return f"(xor(({h4}), ({h4}) // 65536))"


def _mm3_hash_int(x: str, seed: str) -> str:
    """Spark ``hashInt(x, seed)`` (mix one 4-byte word + fmix(len=4)),
    UBIGINT-mod-2^32 text.  Keep x/seed as short column refs — the
    avalanche steps replicate their argument text."""
    return _mm3_fmix(_mm3_mixh1(seed, _mm3_mixk1(x)), "4")


def _mm3_string_hash_layers(src: str) -> str:
    """Nested-SELECT chain computing Spark ``hash(t)`` (Murmur3 x86-32
    over UTF-8 bytes, seed 42: full LE words, then each tail byte
    SIGN-EXTENDED and mixed as its own round, then fmix(len)) for every
    row of ``src`` (column t) — emits (t, uh) with uh the uint32
    image."""
    def byte(i: str) -> str:
        return (f"((instr('0123456789abcdef', hx[{i}*2-1:{i}*2-1]) - 1) * 16"
                f" + (instr('0123456789abcdef', hx[{i}*2:{i}*2]) - 1))")

    q = (f"SELECT t, lower(hex(encode(t))) AS hx, strlen(t) AS nb, "
         f"CAST(42 AS UBIGINT) AS h FROM {src}")
    for w in range(_MM3_MAX_TOKEN_BYTES // 4):
        word = " + ".join(
            f"({byte(str(4 * w + j + 1))}) * {256 ** j}" for j in range(4))
        step = (f"CASE WHEN nb >= {4 * (w + 1)} THEN "
                f"{_mm3_mixh1('h', _mm3_mixk1(f'CAST({word} AS UBIGINT)'))} "
                f"ELSE h END")
        q = f"SELECT t, hx, nb, {step} AS h FROM ({q})"
    for tb in range(3):
        pos = f"(4*(nb//4)+{tb}+1)"
        b = byte(pos)
        ub = (f"(CASE WHEN ({b}) >= 128 THEN CAST({b} AS UBIGINT) + "
              f"4294967040 ELSE CAST({b} AS UBIGINT) END)")  # sign-extend
        step = (f"CASE WHEN nb % 4 > {tb} THEN "
                f"{_mm3_mixh1('h', _mm3_mixk1(ub))} ELSE h END")
        q = f"SELECT t, hx, nb, {step} AS h FROM ({q})"
    return f"SELECT t, {_mm3_fmix('h', 'nb')} AS uh FROM ({q})"


def _minhash_oracle() -> str:
    r, b, k = _MINHASH_R, _BANDS, _MINHASH_K
    cap = 64  # lsh_candidate_pairs' default max_bucket_width
    # signed int32 view of a uint32 column, and back
    def s32(u: str) -> str:
        return (f"(CAST({u} AS BIGINT) - CASE WHEN ({u}) >= 2147483648 "
                f"THEN 4294967296 ELSE 0 END)")

    def u32(s: str) -> str:
        return (f"CAST(((({s}) % 4294967296) + 4294967296) % 4294967296 "
                f"AS UBIGINT)")

    # chained shingle hash: sh = hash(t1, t2, t3) = per-field hashInt
    # folding; s42 = hashInt(sh, 42), shared by all k permutations
    sh_chain = (
        "SELECT doc_id, j, "
        + _mm3_hash_int("t1", "CAST(42 AS UBIGINT)") + " AS h1, t2, t3 "
        "FROM shp")
    sh_chain = ("SELECT doc_id, j, " + _mm3_hash_int("t2", "h1")
                + " AS h2, t3 FROM (" + sh_chain + ")")
    sh_chain = ("SELECT doc_id, j, " + _mm3_hash_int("t3", "h2")
                + " AS sh FROM (" + sh_chain + ")")
    sh_chain = ("SELECT doc_id, j, "
                + _mm3_hash_int("sh", "CAST(42 AS UBIGINT)")
                + " AS s42 FROM (" + sh_chain + ")")
    # band bucket: hash(slice(mhs, bnd*r+1, r)) = fold hashInt over the
    # r=2 elements' uint images, seed 42
    bkt_chain = ("SELECT doc_id, bnd, "
                 + _mm3_hash_int(u32("m1"), "CAST(42 AS UBIGINT)")
                 + " AS bh1, m2 FROM bandm")
    bkt_chain = ("SELECT doc_id, bnd, " + _mm3_hash_int(u32("m2"), "bh1")
                 + " AS bktu FROM (" + bkt_chain + ")")
    return f"""
WITH d AS (
  SELECT doc_id,
         coalesce({_DUCK_TOKENS}, []) AS ts
  FROM documents
),
flat AS (
  SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS t FROM d
),
vocab AS (SELECT DISTINCT t FROM flat),
vh AS ({_mm3_string_hash_layers('vocab')}),
th AS (
  SELECT d.doc_id, coalesce(tl.th, []) AS th
  FROM d LEFT JOIN (
    SELECT doc_id, list(vh.uh ORDER BY i) AS th
    FROM flat JOIN vh USING (t) GROUP BY doc_id
  ) tl USING (doc_id)
),
-- one row per (doc, shingle position); <3-token docs emit the single
-- zero-padded shingle (coalesce(th[i], 0)), the HOF twin's contract
shp AS (
  SELECT doc_id, CAST(j AS INT) AS j,
         coalesce(th[CAST(j AS INT)], 0) AS t1,
         coalesce(th[CAST(j AS INT) + 1], 0) AS t2,
         coalesce(th[CAST(j AS INT) + 2], 0) AS t3
  FROM th, range(1, {_ORACLE_MAX_TOKENS}) g(j)
  WHERE j <= greatest(len(th) - 2, 1)
),
shs AS ({sh_chain}),
-- k permutations: hash(sh, p) = hashInt(p, hashInt(sh, 42)); minima
-- compare SIGNED int32
perm AS (
  SELECT doc_id, CAST(p AS INT) AS p,
         {s32(_mm3_hash_int('CAST(p AS UBIGINT)', 's42'))} AS hp
  FROM shs, range(0, {k}) q(p)
),
mhs AS (
  SELECT doc_id, list(mn ORDER BY p) AS mhs
  FROM (SELECT doc_id, p, min(hp) AS mn FROM perm GROUP BY doc_id, p)
  GROUP BY doc_id
),
bandm AS (
  SELECT doc_id, CAST(bnd AS INT) AS bnd,
         mhs[CAST(bnd AS INT) * {r} + 1] AS m1,
         mhs[CAST(bnd AS INT) * {r} + 2] AS m2
  FROM mhs, range(0, {b}) g(bnd)
),
bkt AS (SELECT doc_id, bnd, {s32('bktu')} AS bkt FROM ({bkt_chain})),
bkts AS (SELECT doc_id, list(bkt ORDER BY bnd) AS bkts FROM bkt
         GROUP BY doc_id),
banded AS (
  SELECT bkt.doc_id, bkt.bnd, bkt.bkt, mhs.mhs, bkts.bkts
  FROM bkt JOIN mhs USING (doc_id) JOIN bkts USING (doc_id)
),
wide AS (
  SELECT bnd, bkt FROM banded GROUP BY bnd, bkt HAVING count(*) > {cap}
),
surv AS (
  SELECT * FROM banded bd
  WHERE NOT EXISTS (SELECT 1 FROM wide w
                    WHERE w.bnd = bd.bnd AND w.bkt = bd.bkt)
),
pairs AS (
  SELECT a.doc_id AS id_a, a.bnd, b2.doc_id AS id_b,
         len(list_filter(list_transform(generate_series(1, {k}),
                                        i -> a.mhs[i] = b2.mhs[i]),
                         v -> v)) / {float(k)} AS est_jaccard
  FROM surv a JOIN surv b2 ON a.bnd = b2.bnd AND a.bkt = b2.bkt
                          AND a.doc_id < b2.doc_id
  WHERE a.bnd = list_position(
          list_transform(generate_series(1, {b}),
                         i -> a.bkts[i] = b2.bkts[i]), true) - 1
),
mates AS (
  SELECT doc_id, count(*) AS n_mates, max(est_jaccard) AS best
  FROM (SELECT id_a AS doc_id, est_jaccard FROM pairs
        UNION ALL
        SELECT id_b AS doc_id, est_jaccard FROM pairs)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(m.n_mates, 0) AS n_mates,
       coalesce(m.best, 0.0) AS best_est_jaccard
FROM d LEFT JOIN mates m USING (doc_id)
"""


@query("q_llm_dedup_minhash", oracle=_minhash_oracle)
def q_llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection: ``minhash_lsh_params``-sized
    signatures (r·b permutations, b bands of r rows — (2, 9) at the
    default tau=0.5 / recall=0.9); docs sharing any band bucket become
    candidate pairs; estimated Jaccard = fraction of agreeing minhashes.

    Output: every doc with its candidate-mate count and best-estimate
    Jaccard (docs with no mates report 0 / NULL), so the result is
    non-empty even on a corpus without near-duplicates; planted-duplicate
    detection is asserted in tests/test_llm.py.

    Scale: signatures in one scan (no shuffle — pure projection); banding
    join is equi on (band, bucket) — O(candidates), never all-pairs.

    r14: HASH-GRADE (was rows-only since r1).  The oracle above
    re-implements Spark's Murmur3_x86_32 — string hashing over UTF-8
    bytes AND the int-mix chains — in pure DuckDB SQL (UBIGINT
    arithmetic mod 2^32), then re-runs the whole shingle → permute →
    min → band → cap → first-band-dedup → mate-rollup pipeline
    independently; see the _minhash_oracle block comment and the
    elementwise JVM-parity pins in tests/test_llm.py."""
    docs = load_table(spark, sf_dir, "documents")
    # Pin the signatures (the canonical production shape: sigs are
    # computed once and stored).  They feed four plan branches (both
    # sides of the banding self-join, the hot-bucket aggregate and the
    # final doc roster) and Spark does no CSE across branches, so
    # without this the token-hash projection ran 3× over the corpus —
    # measured 1.8 s → 1.1 s at sf0.1.  ~116 B/doc of executor storage
    # (signature + band buckets), linear in the corpus.
    sig = pin(minhash_signatures(docs))
    pairs = lsh_candidate_pairs(sig)
    # explode, not union-of-two-projections: Spark does no CSE across
    # union branches, so the union form executed the entire banding join
    # TWICE (plan showed 5 scans of documents; this shape has 3).
    mates = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"),
                     "est_jaccard")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_mates"),
             F.max("est_jaccard").alias("best_est_jaccard"))
    )
    return (
        sig.select("doc_id")
        .join(mates, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_mates", F.lit(0)).alias("n_mates"),
            F.coalesce("best_est_jaccard", F.lit(0.0)).alias("best_est_jaccard"),
        )
    )


_PORTABLE_MINHASH_K = 8

# Portable 3-shingle builders (identical semantics in both engines):
# docs with <3 tokens contribute one whole-text shingle so every doc has
# a signature (the murmur3 builder pads with '' instead — fine for the
# rows-only hot path, but the oracle-checked twin must match exactly).
_SPARK_SHINGLES_OR_WHOLE = """
    if(size(ts) >= 3,
       transform(sequence(1, size(ts) - 2),
                 i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1),
                             ' ', element_at(ts, i + 2))),
       array(array_join(ts, ' ')))"""
_DUCK_SHINGLES_OR_WHOLE = """
    CASE WHEN len(ts) >= 3
         THEN list_transform(generate_series(1, len(ts) - 2),
                             i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])
         -- inner CASE (review r13): DuckDB's array_to_string([]) is
         -- NULL while Spark's array_join([]) is '' — a ZERO-token doc
         -- must get the whole-doc shingle '' (md5('p:'), so all empty
         -- docs share one signature) while a NULL-text doc keeps the
         -- NULL signature in both engines
         ELSE [CASE WHEN ts IS NULL THEN NULL
                    ELSE COALESCE(array_to_string(ts, ' '), '') END] END"""


def portable_minhash_spark_cols() -> list:
    """The per-permutation portable-MinHash columns (``mh0..mh{K-1}``)
    over a ``shs`` shingle-array column — the single definition shared
    by ``q_llm_dedup_minhash_portable`` and the streaming twin
    ``q_stream_dedup_near`` (review r10: the expression block was
    inlined in both, so a K or salt change could silently desynchronize
    the batch≡stream equivalence their tests assert)."""
    return [
        F.expr(f"array_min(transform(shs, s -> md5(concat('{p}:', s))))")
        .alias(f"mh{p}")
        for p in range(_PORTABLE_MINHASH_K)
    ]


def portable_minhash_duck_exprs() -> list[str]:
    """DuckDB spellings of ``portable_minhash_spark_cols`` — kept
    adjacent so the two dialects stay in lockstep."""
    return [
        f"list_min(list_transform(shs, s -> md5('{p}:' || s))) AS mh{p}"
        for p in range(_PORTABLE_MINHASH_K)
    ]


def portable_signature_ctes() -> str:
    """The tok/sh CTE prefix of every portable-MinHash oracle — one
    copy (review r12: q_stream_dedup_near's oracle re-spelled these
    byte-for-byte, so a tokenizer/shingle change could silently
    desynchronize the batch=stream near-dup pair from this key)."""
    return f"""tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents
),
sh AS (
  SELECT doc_id, ({_DUCK_SHINGLES_OR_WHOLE}) AS shs FROM tok
)"""


def portable_signature_frame(docs):
    """(doc_id, mh0..mh7): the full portable-MinHash signature
    projection (tokens → shingles → per-permutation min md5) — the
    Spark twin of portable_signature_ctes, shared with the streaming
    near-dup key."""
    return (docs.select("doc_id", F.expr(_SPARK_TOKENS).alias("ts"))
            .select("doc_id", F.expr(_SPARK_SHINGLES_OR_WHOLE).alias("shs"))
            .select("doc_id", *portable_minhash_spark_cols()))


@query(
    "q_llm_dedup_minhash_portable",
    oracle=f"""
WITH {portable_signature_ctes()}
SELECT doc_id,
       {", ".join(portable_minhash_duck_exprs())}
FROM sh
""",
)
def q_llm_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with a PORTABLE hash so the whole
    shingle→permute→min pipeline is DuckDB-hash-verified (the murmur3
    hot path in ``minhash_signatures`` is rows-only by necessity —
    engine-specific hash).  Each permutation p keeps the minimum md5 hex
    string of 'p:'-salted 3-shingles; lexicographic min of fixed-width
    lowercase hex == numeric min, so the string itself is the signature.
    Same shape as the hot path: pure projection over the scan, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return portable_signature_frame(docs)


# SimHash: 16 bits from the first 4 md5 hex digits of each token,
# weighted ±1 by token multiplicity — same SQL text in both engines.
def _simhash_bit_sums() -> list[str]:
    sums = []
    for digit in range(1, 5):          # hex digits 1..4
        dv = f"(instr('0123456789abcdef', substr(md5(tok), {digit}, 1)) - 1)"
        for bit in range(4):
            sums.append(
                f"SUM((({dv} >> {bit}) & 1) * 2 - 1) AS s{(digit - 1) * 4 + bit}")
    return sums


_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16))


@query(
    "q_llm_dedup_simhash",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, unnest({_DUCK_TOKENS}) AS t(tok)
),
bits AS (
  SELECT doc_id, {", ".join(_simhash_bit_sums())}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_FP} AS simhash16 FROM bits
""",
)
def q_llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (16-bit, portable-hash variant so the
    oracle can verify bit-for-bit; the 64-bit production variant uses
    xxhash64 and Hamming-ball bucketing).  Near-dups = small Hamming
    distance between simhash16 values."""
    docs = load_documents(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(F.expr(_SPARK_TOKENS)).alias("tok"))
    bits = tok.groupBy("doc_id").agg(
        # the bit-sum SQL text is deliberately engine-identical — no
        # dialect translation happens (or is needed) here
        *[F.expr(s) for s in _simhash_bit_sums()])
    return bits.select("doc_id", F.expr(_SIMHASH_FP).alias("simhash16"))


@query(
    "q_llm_dedup_jaccard_ngram",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents WHERE doc_id < 80
),
shingle AS (
  SELECT DISTINCT doc_id,
         ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' '
           || ts[CAST(i AS INT) + 2] AS sh
  FROM tok, range(1, {_ORACLE_MAX_TOKENS}) AS g(i)
  WHERE i <= len(ts) - 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_common,
       CAST(n_common AS DOUBLE)
         / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.01
""",
)
def q_llm_dedup_jaccard_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard similarity pairs on a bounded doc
    slice: the shingle-inverted-index join — |∩| via equi-join on shingle,
    |∪| from per-doc set sizes.  Integer counts → exact double division.
    At scale the shingle join is preceded by MinHash-LSH candidate pruning
    (q_llm_dedup_minhash); this operator is the exact verifier stage."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    from .text import _SPARK_SHINGLES3_TS
    sh = (docs.select("doc_id", F.expr(_SPARK_TOKENS).alias("ts"))
          .select("doc_id", F.explode(F.expr(_SPARK_SHINGLES3_TS)).alias("sh"))
          .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select("id_a", "id_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.01)
    )


def pairwise_editdist(docs: DataFrame, candidates: DataFrame,
                      prefix_len: int = 40) -> DataFrame:
    """Exact Levenshtein re-rank over a CANDIDATE-PAIR set (VERDICT r4
    item 5): ``docs`` is (doc_id, text), ``candidates`` is (id_a, id_b) —
    typically the output of :func:`lsh_candidate_pairs`.  Edit distance
    is O(len²) per pair, so at 100 TB it must only ever run behind
    candidate pruning; taking the pair set as input makes running it
    unbounded impossible by construction.  Two equi-joins attach the
    texts (broadcast-eligible when the candidate set is small — the
    normal case after LSH); the DP itself is Spark's builtin
    ``levenshtein`` (JVM-side).

    Distances are UTF-8 BYTE-level (review r13): DuckDB 1.0's
    levenshtein counts bytes ('中文'↔'xy' = 6, not 2) while Spark's
    counts characters, and the old char-length normalizer even made
    the oracle's similarity NEGATIVE on multibyte pairs.  Spark now
    computes the identical byte-level DP via the bijective latin-1
    re-decode of the UTF-8 bytes, normalized by byte lengths —
    char-identical on ASCII corpora, and (unlike a transliteration
    fold) never collapsing distinct non-ASCII texts together."""
    s = docs.select("doc_id", F.substring("text", 1, prefix_len).alias("prefix"))

    def bytes_as_chars(col: str):
        # each UTF-8 byte becomes exactly one latin-1 char, so the
        # char-level DP below counts bytes — DuckDB's unit
        return F.decode(F.encode(F.col(col), "UTF-8"), "ISO-8859-1")

    a = s.select(F.col("doc_id").alias("id_a"), F.col("prefix").alias("pa"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("prefix").alias("pb"))
    dist = F.levenshtein(bytes_as_chars("pa"), bytes_as_chars("pb"))
    return (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", dist.alias("edit_dist"),
            F.round(
                1.0 - dist / F.greatest(F.octet_length("pa"),
                                        F.octet_length("pb"), F.lit(1)),
                6).alias("edit_sim"),
        )
    )


@query(
    "q_llm_dedup_editdist",
    oracle="""
WITH s AS (
  SELECT doc_id, substr(text, 1, 40) AS prefix
  FROM documents WHERE doc_id < 30
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.prefix, b.prefix) AS edit_dist,
       -- strlen (BYTES) to match levenshtein's byte unit (review r13:
       -- the char-based len() normalizer made edit_sim NEGATIVE on
       -- multibyte pairs); see pairwise_editdist's byte-level contract
       ROUND(1.0 - levenshtein(a.prefix, b.prefix)
             / greatest(strlen(a.prefix), strlen(b.prefix), 1), 6) AS edit_sim
FROM s a JOIN s b ON a.doc_id < b.doc_id
""",
)
def q_llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded exhibit of :func:`pairwise_editdist` — the exact
    Levenshtein verifier that runs BEHIND LSH/minhash candidate pruning
    for fuzzy dedup.  Here the candidate set is all pairs of a 30-doc
    slice (40-char prefixes) so the DuckDB oracle can enumerate the same
    pairs; the LSH-candidates → editdist re-rank composition is
    exercised in tests/test_llm.py.  Classic DP semantics over UTF-8
    BYTES in both engines (see pairwise_editdist, review r13)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    ids = docs.select("doc_id")
    cands = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairwise_editdist(docs.select("doc_id", "text"), cands)


def dedup_clusters(doc_ids: DataFrame, pairs: DataFrame,
                   max_iters: int = 20) -> DataFrame:
    """Connected components over a near-duplicate candidate-pair graph:
    every doc gets ``cluster_id`` = min doc_id reachable through pairs —
    the keep-one-per-cluster final stage of corpus dedup.

    Label propagation: each round every vertex takes the min label among
    itself and its neighbors; converges in O(graph diameter) rounds
    (near-dup clusters are tiny, so 3-5 rounds in practice).  Each round
    is one equi-join + groupBy — all shuffles on doc_id.  Every round
    reads ``edges``, so they are pinned; each round's labels are a
    per-round loop cut (localCheckpoint), so round N doesn't replan
    rounds 1..N-1.

    ``doc_ids``: one column ``doc_id``; ``pairs``: columns id_a, id_b.
    """
    edges = pin(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct())
    labels = doc_ids.select(
        "doc_id", F.col("doc_id").alias("cluster_id"))
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src").agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"),
                        F.coalesce("nbr_min", F.col("cluster_id")))
                .alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # A chain with graph diameter > max_iters would return silently
        # wrong clusters (ADVICE r1) — fail loudly instead.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — the "
            "graph has a longer near-duplicate chain than expected")
    return labels


@query("q_llm_dedup_clusters")  # rows-only: iterative algorithm (pytest-verified)
def q_llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup clustering: EXACT duplicates collapse first
    (min-doc_id representative per normalized-text hash — one 2-phase
    hash aggregate), MinHash-LSH candidate pairs (est Jaccard ≥ 0.5)
    run over the REPRESENTATIVES, connected components label them, and
    every member inherits its representative's cluster →
    (doc_id, cluster_id, is_cluster_head).

    The exact-collapse stage is load-bearing, not an optimization
    (review r11): lsh_candidate_pairs' hot-bucket cap drops buckets
    wider than 64 on the stated assumption that mega-buckets are
    boilerplate 'exact dedup upstream already collapses' — without the
    collapse, an exact-dup group of >64 members landed every band in a
    dropped bucket and came back as singletons, silently.  With it, a
    10⁵-copy boilerplate group is ONE representative in the LSH and the
    whole group inherits one cluster id.  On the fixture (no dups) the
    representatives are all docs and the output is unchanged;
    planted-chain transitivity and the >64-wide-group contract are
    asserted in tests/test_llm.py."""
    docs = load_table(spark, sf_dir, "documents")
    # Sentinel, not raw md5: md5(NULL) is NULL and the hashed.join(reps)
    # equi-join below drops NULL keys (NULL != NULL), which would make
    # NULL-text docs vanish from the labeling entirely (ADVICE r11 —
    # the same trap cascade_flags fixed with this sentinel).  All
    # NULL-text docs collapse to one representative, which is correct:
    # they are exact duplicates of each other (empty content).
    hashed = docs.select(
        "doc_id",
        F.coalesce(F.md5(F.lower(F.trim(F.col("text")))),
                   F.lit("__null_text__")).alias("_h"))
    reps = hashed.groupBy("_h").agg(F.min("doc_id").alias("rep_id"))
    rep_docs = docs.join(
        reps.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi")
    # pinned as in q_llm_dedup_minhash (review r13): lsh_candidate_pairs
    # reads sig on three branches (both self-join sides + the hot-bucket
    # width aggregate), so without it the Arrow minhash UDF re-runs over
    # the representative corpus
    sig = pin(minhash_signatures(rep_docs))
    pairs = lsh_candidate_pairs(sig, min_est_jaccard=0.5).select("id_a", "id_b")
    labels = dedup_clusters(rep_docs.select("doc_id"), pairs)
    return (hashed.join(reps, "_h")
            .join(labels.withColumnRenamed("doc_id", "rep_id"), "rep_id")
            .select(
                "doc_id", "cluster_id",
                (F.col("doc_id") == F.col("cluster_id"))
                .alias("is_cluster_head")))


_TAU_EMB_NEAR_DUP = 0.40  # fixture has random unit vectors (max cos≈0.51);
                          # production near-dup threshold would be ~0.95.


@query(
    "q_llm_dedup_embcos",
    oracle=f"""
WITH wf AS (
  -- well-formed vectors only (review r12, same contract as the
  -- similarity oracles): the SUM-dot silently skips NULL terms, so a
  -- ragged/NULL-element vector scored a real partial cosine here
  -- while the Spark side's zip_with cosine NULLs and drops it
  SELECT * FROM embeddings
  WHERE vec_id < 2000 AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
pairs AS (
  {_DUCK_PAIRS.format(ida="id_a", idb="id_b", rel="wf",
                      pair_cond="a.vec_id < b.vec_id")}
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {_TAU_EMB_NEAR_DUP}
""",
)
def q_llm_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH candidate
    generation (size-adaptive parameters, equi-join on (band, bucket) —
    **no crossJoin**) followed by exact cosine re-rank and the threshold
    filter.  The DuckDB oracle stays the exact all-pairs form, so the
    hash check also certifies the LSH stage's recall at test scale: a
    single missed qualifying pair fails the sweep.

    The LSH parameters come from ``hyperplane_lsh_params`` with a recall
    target of 1-1e-6 per qualifying pair; at the fixture's low τ (0.40 —
    random unit vectors, max pairwise cos≈0.51) the formula honestly
    allocates many cheap bands, at a production τ≈0.95 it allocates
    selective multi-bit bands instead.  Candidates shuffle as narrow
    (id, band, bucket) rows; vectors rejoin only for surviving pairs.

    The slice is bounded (vec_id < 2000) because the certifying oracle
    is all-pairs — quadratic in BOTH engines at any corpus size; the
    unbounded production path is the same machinery at τ≥0.9, where the
    planted-duplicate test at 20k vectors (tests/test_scale.py) is the
    scale evidence."""
    from .similarity import hyperplane_candidate_pairs

    em = (load_table(spark, sf_dir, "embeddings")
          .filter((F.col("vec_id") < 2000)
                  & (F.size("embedding") == 64)
                  & (F.expr("size(filter(embedding, x -> x IS NULL))")
                     == 0)))
    # Catalog-stats sizing, no pre-scan (VERDICT r2 item 7); the upper
    # bound only pushes the recall formula toward more bands.
    n = min(2000, table_rows(sf_dir, "embeddings"))
    cands = hyperplane_candidate_pairs(
        em, "vec_id", "embedding", n_rows=n,
        tau=_TAU_EMB_NEAR_DUP, target_recall=1.0 - 1e-6)
    a = em.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("a_emb"))
    b = em.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("b_emb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cosine("a_emb", "b_emb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= _TAU_EMB_NEAR_DUP)
    )


@query(
    "q_llm_dedup_semantic",
    oracle=f"""
WITH emb AS (
  -- well-formed vectors only (review r13): the Spark side's
  -- wf_vectors guard drops NULL/ragged/NULL-element vectors from
  -- seeding, assignment, AND the output roster
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id < 2000
    AND len(embedding) = 64
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
seed AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ck, embedding
  FROM emb ORDER BY vec_id LIMIT 8
),
cent AS (
  SELECT ck, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS c
  FROM seed
),
vec AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM emb
),
cpairs AS (
  SELECT vec.vec_id, cent.ck,
         ROUND(SUM(vec.v * cent.c)
               / (sqrt(SUM(vec.v * vec.v)) * sqrt(SUM(cent.c * cent.c))),
               6) AS cos_sim
  FROM vec JOIN cent ON vec.i = cent.i
  GROUP BY vec.vec_id, cent.ck
),
asg AS (
  SELECT vec_id, ck AS cluster
  FROM (SELECT vec_id, ck,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC, ck) AS rn
        FROM cpairs) WHERE rn = 1
),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM emb a JOIN asg sa ON a.vec_id = sa.vec_id
  JOIN asg sb ON sb.cluster = sa.cluster
  JOIN emb b ON b.vec_id = sb.vec_id AND a.vec_id < b.vec_id
  CROSS JOIN generate_series(1, 64) AS g(i)
  GROUP BY a.vec_id, b.vec_id
  HAVING {duck_pair_cosine("a", "b")} >= {_TAU_EMB_NEAR_DUP}
)
SELECT asg.vec_id, asg.cluster, (dup.vec_id IS NULL) AS keep
FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
""",
)
def q_llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023, public
    arXiv 2303.09540): cluster the embedding space with k-means, then
    compare pairs ONLY within a cluster and drop every vector that has a
    higher-similarity earlier twin — pruning semantically redundant
    training data that exact/MinHash dedup (different surface text) never
    sees.  Clustering uses the deterministic one-Lloyd-step assignment of
    q_llm_emb_kmeans_portable (centroids = the 8 lowest vec_ids) so the
    whole pipeline — assignment, within-cluster cosine, greedy
    keep-lowest-id — is closed-form SQL and hash-checkable; a trained
    codebook drops in unchanged.  k is FIXED at 8 here because the
    oracle twin must be static SQL; production uses ``semantic_dedup``
    directly with k ∝ n (see its docstring and the 100× curve).

    The slice is bounded (vec_id < 2000, the embcos discipline): the
    certifying oracle's within-cluster pairwise is quadratic-per-cluster
    in BOTH engines at fixed k, so the oracle stays feasible at any SF;
    the unbounded production path is the same machinery with k ∝ n,
    scale-certified by the 100× curve (BASELINE.md) and the planted-twin
    tests."""
    em = (load_table(spark, sf_dir, "embeddings")
          .filter(F.col("vec_id") < 2000))
    return semantic_dedup(em, n_clusters=8)


def semantic_dedup(em: DataFrame, n_clusters: int,
                   tau: float = _TAU_EMB_NEAR_DUP,
                   hierarchical: bool = False,
                   max_cluster_width: int | None = None) -> DataFrame:
    """The parameterized SemDeDup pipeline over an (vec_id, embedding)
    DataFrame: deterministic seeding (centroids = embeddings of the
    ``n_clusters`` lowest vec_ids), one Lloyd assignment, within-cluster
    pairwise cosine, drop any vector with an earlier near-twin.

    Scale: this is exactly why SemDeDup clusters first — pairwise cost
    falls from O(n²) to O(Σ cᵢ²), and the caller keeps cᵢ bounded by
    scaling ``n_clusters`` with n (k ≈ n/64 keeps mean cluster width
    ~64 regardless of corpus size; at billion-vector scale k≈10⁷ tiny
    centroids still broadcast).  The self-join is equi on cluster id
    (shuffle, never crossJoin); assignment broadcasts centroids over one
    corpus scan (assign_nearest); a width cap on pathological clusters
    composes the same way as lsh_candidate_pairs' hot-bucket cap.
    ``hierarchical=True`` swaps in the IVF-routed assignment
    (assign_nearest_hierarchical, O(n·√k) instead of O(n·k) cosines) —
    the production setting once k grows with n; nprobe=1 cell borders
    may shift a few assignments, so the oracle-checked key keeps the
    exact form.

    ``max_cluster_width`` is the semantic twin of lsh_candidate_pairs'
    hot-bucket cap: a degenerate embedding region (boilerplate docs,
    zero vectors, a dead cluster head) can swallow a macroscopic corpus
    fraction and make its within-cluster pairwise O(w²) alone.  Clusters
    wider than the cap SKIP pair generation — conservative direction:
    their members are all kept (keep=true), never mis-dropped — and the
    same width aggregate is one map-side-combined count on the cluster
    key.  None (the oracle-checked key) disables the cap."""
    from .embeddings import assign_nearest, assign_nearest_hierarchical
    from .similarity import _norm, wf_vectors

    w = Window.orderBy("vec_id")
    # seeds = the lowest WELL-FORMED vec_ids (review r13, the
    # wf_vectors contract shared with the kmeans family)
    cvecs = (wf_vectors(em).orderBy("vec_id").limit(n_clusters)
             .select((F.row_number().over(w) - 1).alias("ck"),
                     F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                     .alias("cvec")))
    # r14 (VERDICT r13 #8): assignment CARRIES the embedding through
    # its projection instead of the old em.join(asg, "vec_id") — a full
    # corpus SELF-join (broadcast locally, an orderkey-free shuffle at
    # scale) existed only to re-attach the vector the assignment had
    # just projected away.  The norm rides along so the pairwise stage
    # computes n norms, not 2·|pairs|.
    if hierarchical:
        asg = assign_nearest_hierarchical(em, cvecs, "ck", n_clusters,
                                          carry=("embedding",))
    else:
        asg = assign_nearest(em, cvecs, "ck", carry=("embedding",))
    src = asg.select("vec_id", "cluster", "embedding",
                     _norm("embedding").alias("_n"))
    # Pairwise + roster in ONE per-cluster group stage: the Gram
    # stage emits every member's keep flag (_keep_flags_vectorized), so
    # the plan has one Exchange (the cluster group shuffle) and no
    # roster join-back.  The exact assignment stage stays on
    # assign_nearest — its degenerate-vector and tie semantics are the
    # oracle-certified contract shared with the kmeans family.
    if max_cluster_width is None:
        return _keep_flags_vectorized(src, tau)
    # Capped path: wide clusters must NOT enter the group shuffle (a
    # boilerplate mega-cluster would land its whole width on one
    # reduce task — the hot-key pathology the cap exists to bound), so
    # the anti-join structure stays; the fused flags UDF still removes
    # the roster join-back.  v feeds three branches (width aggregate,
    # anti side, wide-member roster) and wide two broadcasts that are
    # not reused → both pinned.
    v = pin(src)
    wide = pin(v.groupBy("cluster")
               .agg(F.count(F.lit(1)).alias("cw"))
               .filter(F.col("cw") > max_cluster_width)
               .select("cluster"))
    narrow = v.join(F.broadcast(wide), "cluster", "left_anti")
    wide_members = (v.join(F.broadcast(wide), "cluster", "left_semi")
                    .select("vec_id", "cluster",
                            F.lit(True).alias("keep")))
    return _keep_flags_vectorized(narrow, tau).unionByName(wide_members)


def _keep_flags_vectorized(src: DataFrame, tau: float) -> DataFrame:
    """Within-cluster near-twin pruning → (vec_id, cluster, keep), keep
    = "no earlier (lower vec_id) near-twin in my cluster", via ONE numpy
    Gram matrix per cluster (applyInPandas).  One shuffle by cluster;
    the caller's max_cluster_width cap bounds the group width, so the
    w×w Gram is bounded too.  Single-member (and empty) groups emit
    keep=true without touching the vectors.

    BIT-EXACT with the salted within-cluster self-join over JVM HOF
    cosines (``cosine_with_norms`` — the engine-portable form the DuckDB
    oracle mirrors; the reference is ``dup_ids_joined`` in
    tests/reference_forms.py, parity pinned by
    ``test_semantic_pairwise_vectorized_bit_identical``):

    - the dot is the same LEFT-TO-RIGHT fold — the Gram accumulates
      per-dimension outer products in ascending dim order, elementwise
      IEEE adds (no BLAS, no pairwise summation, no FMA), which equals
      Spark's ``aggregate(zip_with(...))`` fold bit-for-bit;
    - na·nb and the divide are the same single correctly-rounded ops
      on the SAME JVM-computed ``_n`` norms carried in ``src``;
    - the ROUND-6 ≥ tau predicate uses a guarded compare: direct
      except within 1e-9 of the half-up rounding boundary
      (tau − 5e-7), exact-Decimal HALF_UP there (Decimal(float(c))
      quantizes the exact binary expansion — bit-equal to Spark's
      ROUND)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    q6 = Decimal("1E-6")
    tau_dec = Decimal(str(tau))
    boundary = tau - 5e-7
    schema = StructType([
        src.schema["vec_id"],
        src.schema["cluster"],
        StructField("keep", BooleanType(), False),
    ])

    def flags(pdf: pd.DataFrame) -> pd.DataFrame:
        roster = pdf[["vec_id", "cluster"]].copy()
        if len(pdf) < 2:
            roster["keep"] = True
            return roster
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        nrm = pdf["_n"].to_numpy()[order].astype(np.float64)
        w = V.shape[0]
        G = np.zeros((w, w))
        for j in range(V.shape[1]):  # ascending dim = the HOF fold order
            G += np.multiply.outer(V[:, j], V[:, j])
        C = G / np.multiply.outer(nrm, nrm)
        ia, ib = np.triu_indices(w, k=1)  # ids ascending → id_a < id_b
        c = C[ia, ib]
        dup = c >= boundary + 1e-9
        amb = np.abs(c - boundary) <= 1e-9
        for idx in np.nonzero(amb)[0]:
            dup[idx] = Decimal(float(c[idx])).quantize(
                q6, ROUND_HALF_UP) >= tau_dec
        dup_ids = np.unique(ids[ib[dup]])
        roster["keep"] = ~roster["vec_id"].isin(dup_ids)
        return roster

    return (src.select("cluster", "vec_id", "embedding", "_n")
            .groupBy("cluster").applyInPandas(flags, schema))


@query(
    "q_llm_text_contamination",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS ts FROM documents
),
sh AS (
  SELECT doc_id, source,
         concat(coalesce(ts[i], ''), ' ', coalesce(ts[i + 1], ''), ' ',
                coalesce(ts[i + 2], '')) AS shingle
  FROM tok, range(1, {_ORACLE_MAX_TOKENS}) AS g(i)
  WHERE i <= greatest(len(ts) - 2, 1)
),
ev AS (SELECT DISTINCT doc_id AS eval_id, shingle FROM sh WHERE source = 'src0'),
tr AS (SELECT DISTINCT doc_id AS train_id, shingle FROM sh WHERE source <> 'src0'),
evtot AS (SELECT eval_id, COUNT(*) AS n_eval FROM ev GROUP BY eval_id),
hits AS (
  SELECT train_id, eval_id, COUNT(*) AS n_shared
  FROM tr JOIN ev USING (shingle) GROUP BY train_id, eval_id
)
SELECT train_id, eval_id, n_shared,
       ROUND(n_shared / n_eval, 6) AS overlap_frac
FROM hits JOIN evtot USING (eval_id)
WHERE n_shared >= 3
""",
)
def q_llm_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination detection (decontamination): flag training
    docs sharing ≥3 distinct 3-word shingles with any benchmark doc
    (source 'src0' plays the held-out eval set).

    The canonical production shape: the eval benchmark is tiny (10^4-10^5
    docs), so its distinct-shingle inverted index BROADCASTS; the
    training corpus streams through one scan, `array_distinct` dedupes
    shingles per doc *before* explode (no distinct shuffle), and the only
    shuffle is the groupBy on colliding (train, eval) pairs — a set that
    is ~empty for clean corpora.  Nothing quadratic, corpus never
    re-shuffles.

    The replicated scale FIXTURES violate the tiny-benchmark premise in
    two ways, so the broadcasts are stats-gated rather than forced:
    src0 (the stand-in eval set) is 10% of the corpus at every SF (~19
    distinct shingle rows per corpus doc — past ~1M docs that build
    side must shuffle, not broadcast), and key-shifted replication
    gives every contaminated (train, eval) pair k² replica twins, so
    the OUTPUT grows quadratically in the replication factor — an
    artifact of the fixture, not the plan (BASELINE.md session VII
    measures the production fixed-eval shape alongside)."""
    from ..catalog import fits_broadcast
    docs = load_table(spark, sf_dir, "documents")
    # ~10% of docs are src0; ~188 distinct 3-shingles per fixture doc
    ev_fits = fits_broadcast(sf_dir, "documents", 0.1 * 188)
    shingles = F.expr("""
        array_distinct(transform(
          sequence(1, greatest(size(ts) - 2, 1)),
          i -> concat(coalesce(try_element_at(ts, i), ''), ' ',
                      coalesce(try_element_at(ts, i + 1), ''), ' ',
                      coalesce(try_element_at(ts, i + 2), ''))))""")
    sh = (docs.select("doc_id", "source", F.expr(_SPARK_TOKENS).alias("ts"))
          .select("doc_id", "source", F.explode(shingles).alias("shingle")))
    ev = sh.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_id"), "shingle")
    tr = sh.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_id"), "shingle")
    evtot = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval"))
    hits = (tr.join(F.broadcast(ev) if ev_fits else ev, "shingle")
            .groupBy("train_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= 3))
    # evtot is one row per EVAL doc (~10% of the corpus — it scales,
    # exactly like ev above): gate it on the same stats instead of
    # forcing the broadcast (review r10; factor 0.1 = the src0 share,
    # vs ev's 0.1 × ~188 shingle fan-out)
    ev_rows_fit = fits_broadcast(sf_dir, "documents", 0.1)
    return (hits.join(F.broadcast(evtot) if ev_rows_fit else evtot,
                      "eval_id")
            .select("train_id", "eval_id", "n_shared",
                    F.round(F.col("n_shared") / F.col("n_eval"), 6)
                     .alias("overlap_frac")))


@query(
    "q_llm_dedup_clusters_portable",
    oracle="""
WITH RECURSIVE hashed AS (
  SELECT doc_id, md5(lower(trim(text))) AS h FROM documents
),
e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id <> b.doc_id
),
lbl AS (
  SELECT doc_id, doc_id AS cluster_id FROM hashed
  UNION
  SELECT e.src AS doc_id, l.cluster_id
  FROM lbl l JOIN e ON e.dst = l.doc_id
)
SELECT doc_id,
       MIN(cluster_id) AS cluster_id,
       (doc_id = MIN(cluster_id)) AS is_cluster_head
FROM lbl GROUP BY doc_id
""",
)
def q_llm_dedup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components dedup clustering with a HASH-GRADE oracle:
    the edge relation is portable (exact-duplicate pairs by normalized
    md5 — identical SQL in both engines), Spark runs the same generic
    iterative label propagation as ``q_llm_dedup_clusters``, and DuckDB
    independently computes components via a recursive-CTE transitive
    closure.  This certifies the clustering operator's OUTPUT (not just
    row counts) against an engine that implements connected components a
    completely different way.  The LSH-edged twin stays rows-only
    (murmur3 signatures are engine-specific); multi-hop chain merging is
    asserted on planted chains in tests/test_llm.py.

    Edge construction is a STAR, not a clique (100× sweep finding, r6):
    a self-join on the hash emits C(f,2) edges per f-wide duplicate
    group — the same O(f²) blowup as an LSH mega-bucket (the 100×
    replicated corpus produced ~25M edges from 5k groups of 100).  Each
    member instead points at its group's min doc_id: O(n) edges total,
    component diameter ≤ 2 so label propagation converges in one
    round + one confirmation — identical components, identical labels
    (the root IS the min), and the recursive-CTE oracle agrees because
    components are topology-independent.

    NULL-text docs are SINGLETONS here, by SQL NULL semantics on both
    sides (md5(NULL) is NULL, NULL != NULL kills the edge; the label
    base is ALL docs, so they stay in the output unclustered).  The
    non-portable twin instead groups NULL texts together via a
    sentinel hash (ADVICE r11) — both contracts are deliberate: this
    key certifies cross-engine parity, that one the production
    'empty content is duplicate content' policy."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("h"))
    roots = hashed.groupBy("h").agg(F.min("doc_id").alias("id_a"))
    pairs = (hashed.join(roots, "h")
             .filter(F.col("doc_id") != F.col("id_a"))
             .select("id_a", F.col("doc_id").alias("id_b")))
    labels = dedup_clusters(docs.select("doc_id"), pairs)
    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_cluster_head"))


_SUBSTR_W = 8  # rolling-window width in tokens (Lee et al. use 50 BPE
# tokens at corpus scale; 8 fits the short synthetic fixtures while
# exercising the identical plan shape)


def _span_windows(w: int):
    """Rolling w-token windows of a tokenized doc (column expr over
    ``ts``): ≤ L−w+1 spans per doc, empty for docs shorter than w."""
    return F.expr(f"""
        if(size(ts) >= {w},
           transform(sequence(1, size(ts) - {w - 1}),
                     i -> array_join(slice(ts, i, {w}), ' ')),
           array())""")


def _span_runs(occ_arrays: DataFrame) -> DataFrame:
    """Per-doc distinct spans WITH multiplicities (r14, VERDICT r13
    #3): sort each doc's span array, find run boundaries, emit one
    (span, cnt) row per DISTINCT span of the doc.  Rationale: a
    (span, doc) pair lives entirely inside ONE document row, so the
    per-doc dedup that COUNT(DISTINCT doc_id) needs can happen inside
    the row BEFORE the explode — Spark's distinct-aggregate rewrite
    otherwise plans TWO full exchanges, both keyed on (and carrying)
    the raw span strings (hashpartitioning(span, doc_id), then
    hashpartitioning(span)); with per-doc (span, cnt) rows ONE
    exchange on span suffices: n_docs = COUNT(*), n_occ = SUM(cnt).
    The sort and boundary scan are per-doc JVM array work (≤ L−w+1
    elements).  Input: (doc_id, spans array<string>); output:
    (doc_id, span, cnt) — degenerate docs (NULL/short text → empty
    spans) emit no rows, exactly like the explode they replace."""
    # empty guard on BOTH exprs: sequence(1, 0) yields the DESCENDING
    # [1, 0] (the text.py trap) and i=0 makes element_at throw under
    # ANSI — a short-of-w doc's empty span array must just emit nothing
    bs = """if(size(sps) <= 0, array(),
       filter(sequence(1, size(sps)),
              i -> i = 1 OR element_at(sps, i)
                   != element_at(sps, i - 1)))"""
    runs = """if(size(bs) <= 0, array(),
       transform(sequence(1, size(bs)),
                 j -> struct(
                   element_at(sps, element_at(bs, j)) AS span,
                   coalesce(try_element_at(bs, j + 1), size(sps) + 1)
                     - element_at(bs, j) AS cnt)))"""
    # sort_array, not array_sort: array_sort plans an interpreted
    # comparator lambda per element pair (1.35 s vs 1.16 s median at
    # sf0.1, same result; spans are never NULL, so the NULL order the
    # two differ in cannot show)
    return (occ_arrays
            .select("doc_id", F.sort_array("spans").alias("sps"))
            .select("doc_id", "sps", F.expr(bs).alias("bs"))
            .select("doc_id", F.explode(F.expr(runs)).alias("r"))
            .select("doc_id", F.col("r.span").alias("span"),
                    F.col("r.cnt").alias("cnt")))


def substring_dedup(docs: DataFrame, w: int = 50) -> DataFrame:
    """Cross-document repeated-span detection (Lee et al. 2022): every
    ``w``-token window of every doc of ``docs`` (doc_id, text), grouped
    by span → (span, n_docs, n_occ) for the spans seen in more than one
    doc.  ``w`` is the window width in tokens (their paper uses 50 BPE
    tokens; the oracle exhibit key fixes 8 for the short fixtures).

    One shape, one exchange: :func:`_span_runs` counts each doc's
    distinct spans inside the doc row, so the only shuffle is the
    group-by on span.  Measured against the two-exchange distinct
    aggregate and a hashed two-pass shape (16-byte md5 keys in the
    count shuffle, survivor text re-derived in a second scan) on a
    4-core host, it was the fastest on the 10× and 100× copies at w=8
    and w=50, and on the ~5 %-duplicated ``make_realdup.py`` corpus the
    hashed shape was built for; on the sf0.1 and sf0.01 fixtures its
    gap to the two-exchange form sits within run-to-run spread
    (CHANGES.md records the timings).  The per-doc span work is JVM
    array HOFs: an Arrow span generator lost to them once the doc scan
    was spread (scripts/ab_substring_arrow_r14.json), so read the
    corpus through ``catalog.load_documents`` — the compressed text
    scan under-splits and leaves the span work a few tasks wide."""
    runs = _span_runs(
        docs.select("doc_id", F.expr(_SPARK_TOKENS).alias("ts"))
        .select("doc_id", _span_windows(w).alias("spans")))
    return (runs.groupBy("span")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("cnt").alias("n_occ"))
            .filter(F.col("n_docs") > 1))


@query(
    "q_llm_dedup_substring",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents
),
win AS (
  SELECT doc_id,
         array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + {_SUBSTR_W - 1}],
                         ' ') AS span
  FROM tok, range(1, {_ORACLE_MAX_TOKENS}) AS g(i) WHERE i <= len(ts) - {_SUBSTR_W - 1}
)
SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
FROM win GROUP BY span HAVING COUNT(DISTINCT doc_id) > 1
""",
)
def q_llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection — the exact-substring dedup
    of Lee et al., *Deduplicating Training Data Makes Language Models
    Better* (2022), re-expressed as a rolling token-window group-by
    instead of a suffix array: every w-token window of every document is
    emitted and any span appearing in more than one document is reported
    with its document- and occurrence-counts (the spans a pipeline then
    cuts out of the training text).

    Runs :func:`substring_dedup` at the fixture width: one bounded
    per-doc span pass and ONE shuffle keyed on the raw span, so the
    DuckDB oracle certifies the span text, not just counts.  The doc
    scan spreads by row count (``load_documents``)."""
    return substring_dedup(load_documents(spark, sf_dir), w=_SUBSTR_W)


@query(
    "q_llm_dedup_incremental",
    oracle="""
WITH f AS (
  SELECT doc_id, md5(lower(trim(text))) AS h,
         doc_id % 2 = 0 AS is_base
  FROM documents
),
inc AS (SELECT doc_id, h FROM f WHERE NOT is_base)
SELECT i.doc_id,
       EXISTS (SELECT 1 FROM f b WHERE b.is_base AND b.h = i.h)
         AS dup_of_base,
       EXISTS (SELECT 1 FROM inc e
               WHERE e.h = i.h AND e.doc_id < i.doc_id)
         AS dup_in_batch,
       (NOT EXISTS (SELECT 1 FROM f b WHERE b.is_base AND b.h = i.h)
        AND NOT EXISTS (SELECT 1 FROM inc e
                        WHERE e.h = i.h AND e.doc_id < i.doc_id))
         AS keep
FROM inc i
""",
)
def q_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the production shape for a corpus that
    grows daily: the new batch (odd doc_ids here) dedupes against (a)
    the already-ingested base (even doc_ids) and (b) itself, without
    the base corpus ever re-shuffling.  Base participation is ONLY its
    distinct fingerprint relation (16-byte hashes — at 100 TB that is
    the compact artifact a pipeline persists between runs and
    broadcast- or bloom-joins against each increment, exactly the
    q_join_bloom_prune/CMS pattern); the within-batch head rule is the
    q_llm_dedup_exact min-id aggregate applied to the increment alone.
    Streaming twin: q_stream_dedup_near carries the same
    new-versus-seen contract across micro-batches."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
        (F.col("doc_id") % 2 == 0).alias("is_base"))
    base_h = (f.filter("is_base").select("h").distinct()
              .withColumn("in_base", F.lit(True)))
    # stats gate (review r11): base_h is ~half the corpus's distinct
    # hashes — SF-scaled, not dimension-sized; past the footer-stat cap
    # the seen-set membership join falls back to a shuffled join (at
    # petabyte scale the documented lever is the bloom/CMS prune this
    # key's docstring cites)
    from ..catalog import fits_broadcast

    if fits_broadcast(sf_dir, "documents", 0.5):
        base_h = F.broadcast(base_h)
    inc = f.filter(~F.col("is_base")).select("doc_id", "h")
    heads = inc.groupBy("h").agg(F.min("doc_id").alias("head_id"))
    # NULL-text rows hash to h=NULL, and SQL NULL equality means they
    # match NOTHING — the oracle's EXISTS predicates all read false, so
    # every NULL-h increment doc flows through with keep=true.  Both
    # joins are therefore LEFT (an inner join on the nullable h key
    # silently dropped those docs — review r13), and the head
    # comparisons coalesce NULL→not-a-dup to the same truth table.
    return (
        inc.join(base_h, "h", "left")
        .join(heads, "h", "left")
        .select(
            "doc_id",
            F.coalesce("in_base", F.lit(False)).alias("dup_of_base"),
            F.coalesce(F.col("doc_id") > F.col("head_id"), F.lit(False))
             .alias("dup_in_batch"),
            ((F.coalesce("in_base", F.lit(False)) == F.lit(False))
             & F.coalesce(F.col("doc_id") == F.col("head_id"), F.lit(True)))
             .alias("keep"))
    )


@query(
    "q_llm_dedup_report",
    oracle="""
WITH clusters AS (
  SELECT md5(lower(trim(text))) AS hsh,
         COUNT(*) AS sz,
         SUM(n_chars) AS chars_total,
         MIN(n_chars) AS chars_keeper
  FROM documents GROUP BY md5(lower(trim(text)))
)
SELECT sz AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz - 1) AS BIGINT) AS n_removable,
       CAST(SUM(chars_total - chars_keeper) AS BIGINT) AS chars_reclaimed
FROM clusters
GROUP BY sz
""",
)
def q_llm_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: the cluster-size histogram plus how many
    docs and characters exact dedup would reclaim per size class — the
    number a pipeline owner reads BEFORE paying for the dedup run
    (and the shape of the answer matters: a few giant clusters vs a
    long tail of pairs call for different strategies — cap-aware
    near-dup vs plain exact).  Counts-of-counts again: the per-cluster
    rollup partial-combines on the fingerprint, the histogram is
    |distinct sizes| rows.  All-integer arithmetic — nothing to
    round."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = (
        docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("hsh"))
        .agg(F.count(F.lit(1)).alias("sz"),
             F.sum("n_chars").alias("chars_total"),
             F.min("n_chars").alias("chars_keeper"))
    )
    return (
        clusters.groupBy(F.col("sz").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"),
             F.sum("sz").alias("n_docs"),
             F.sum(F.col("sz") - 1).alias("n_removable"),
             F.sum(F.col("chars_total") - F.col("chars_keeper"))
              .alias("chars_reclaimed"))
    )
