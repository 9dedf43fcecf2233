"""Dev loop: run every registered query against the DuckDB oracle at
sf0.01 (or $LSTORE_SPARK_TEST_SF) in one Spark session; print a
pass/fail table and record each result in scripts/selfcheck_ledger.json
under the fixture's label.  The first ERR prints its traceback;
CHECK_TRACE=1 prints every one.

Usage: python scripts/check.py [key-substring ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lstore_spark.registry import ORACLE, QUERIES  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402
from tests.oracle_check import compare, duck_connect  # noqa: E402

from tests.oracle_check import default_sf_dir  # noqa: E402

SF_DIR = default_sf_dir()


def fixture_label(sf_dir: str) -> str:
    """The ledger's name for a fixture: the label a replicated fixture
    carries in its ``fixture.json`` (``scripts/make_sfbig.py`` writes
    e.g. ``sf0.1x10``), else the fixture directory's basename."""
    try:
        with open(os.path.join(sf_dir, "fixture.json")) as fh:
            return json.load(fh)["label"]
    except (OSError, ValueError, KeyError):
        return os.path.basename(os.path.normpath(sf_dir))


FIXTURE = fixture_label(SF_DIR)

# Keys whose OUTPUT (not plan) is quadratic in input size: at the ~sf1
# sweep the theta join alone emits 21M pairs — far past what the
# collect-and-canonicalize comparator can hash in Python.  The query
# itself stays a banded equi-join (fine at scale); only the *comparison*
# is bounded, by pushing the same deterministic modulus slice of pairs
# into both engines (still ~200k exactly-compared rows at ~sf1).
PAIR_SAMPLE: dict[str, tuple[str, int]] = {
    "q_join_theta_range": ("id_a", 97),
}


def _maybe_sample(key: str, df, sql: str):
    if key in PAIR_SAMPLE and os.environ.get("LSTORE_SPARK_BIG"):
        col, m = PAIR_SAMPLE[key]
        df = df.filter(F.col(col) % m == 0)
        sql = f"SELECT * FROM ({sql}) WHERE {col} % {m} = 0"
    return df, sql


# ANN recall floors, asserted during the big-SF sweep (VERDICT r4 item
# 6): the pytest floors only cover sf0.01; the scale claim is that
# bucketing/routing keeps adding signal at 10× the volume.  LSH/IVF
# floors match the pytest ones (random unit vectors — the hardest case;
# production clustered embeddings recall far higher).  PQ-ADC measured
# 0.16 recall@5 vs exact L2 on the random fixtures (16-cell label
# codebook ≈ no cluster structure to exploit) — blind chance is ~0.005,
# so 0.1 asserts the quantizer is preserving real ordering signal.
# Caveat: the sfbig corpus is key-shifted REPLICATION, so each query's
# true neighbors are its identical replicas and all three recalls hit
# 1.0 there — the big-SF assertion proves the search paths stay correct
# and within floors at 10× volume; the sf0.01 floors carry the
# hard-case (random-vector) signal.
ANN_RECALL_FLOORS = {"lsh": 0.2, "ivf": 0.35, "pq_adc": 0.1}


def check_ann_recall(spark) -> tuple[int, list[str]]:
    """Recall of each approximate search vs the exact brute-force top-k,
    at whatever SF the sweep runs.  Returns (n_checks, failure lines) —
    the count is derived from the report() calls actually made, so
    adding a fourth floor can't silently skew the summary accounting
    (review r11: the caller hardcoded 3)."""
    exact_rows = QUERIES["q_llm_sim_cosine_topk"](spark, SF_DIR).collect()
    exact = {(r.query_id, r.cand_id) for r in exact_rows}
    exact3 = {(min(r.query_id, r.cand_id), max(r.query_id, r.cand_id))
              for r in exact_rows if r.rank <= 3}
    fails: list[str] = []
    n_checks = 0

    def report(name: str, got: set, base: set) -> None:
        nonlocal n_checks
        n_checks += 1
        rec = len(base & got) / max(len(base), 1)
        ok = rec >= ANN_RECALL_FLOORS[name]
        line = (f"{'OK ' if ok else 'FAIL'} recall_{name:27s} {rec:6.3f}  "
                f"(floor {ANN_RECALL_FLOORS[name]}, base {len(base)} pairs)")
        print(line, flush=True)
        if not ok:
            fails.append(line)

    lsh = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
           for r in QUERIES["q_llm_sim_lsh_topk"](spark, SF_DIR).collect()}
    report("lsh", lsh, exact3)
    ivf = {(r.query_id, r.cand_id)
           for r in QUERIES["q_llm_sim_ivf_topk"](spark, SF_DIR).collect()}
    report("ivf", ivf, exact)
    # PQ-ADC approximates L2 distance, so its fair baseline is the exact
    # L2 top-k (recall vs the cosine exhibit would mostly measure the
    # metric mismatch, not quantization loss).  Same query/corpus split
    # as q_llm_emb_pq_adc: vec_id < 10 are queries.
    from pyspark.sql import Window
    from lstore_spark.catalog import load_table

    em = load_table(spark, SF_DIR, "embeddings")
    q = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = em.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))
    d2 = F.expr("aggregate(zip_with(qe, ce, (a, b) -> (a - b) * (a - b)), "
                "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    w = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    l2 = (c.crossJoin(F.broadcast(q))
          .select("query_id", "cand_id", d2.alias("d2"))
          .withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= 5))
    l2_exact = {(r.query_id, r.cand_id) for r in l2.collect()}
    pq = {(r.query_id, r.cand_id)
          for r in QUERIES["q_llm_emb_pq_adc"](spark, SF_DIR).collect()}
    report("pq_adc", pq, l2_exact)
    return n_checks, fails


import functools


@functools.cache
def _current_round() -> int:
    """The build round this self-check runs in: one past the newest
    CORRECTNESS_r*.json (the driver writes rN's file at round close, so
    a check running now is rN+1 evidence).  Override with LSTORE_ROUND."""
    if os.environ.get("LSTORE_ROUND"):
        try:
            return int(os.environ["LSTORE_ROUND"])
        except ValueError:
            # a typo'd override (e.g. 'r14') must not abort the sweep
            # through _ledger_record's best-effort contract (review
            # r13) — fall through to the derived round
            pass
    from lstore_spark.registry import correctness_files
    rounds = [r for r, _p in correctness_files()]
    return (max(rounds) + 1) if rounds else 1


_LEDGER_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "selfcheck_ledger.json")


def _ledger_record(key: str, ok: bool) -> None:
    """Persist per-key self-check evidence (fixture label → key → latest
    round + grade) so EVIDENCE.md can show local freshness alongside
    driver rounds (VERDICT r11 #8); runs on different fixtures keep
    separate records.  Best-effort: a ledger I/O failure never fails the
    check itself."""
    try:
        try:
            with open(_LEDGER_PATH) as fh:
                led = json.load(fh)
        except (OSError, ValueError):
            led = {}
        led.setdefault(FIXTURE, {})[key] = {
            "round": _current_round(), "ok": bool(ok),
            "ts": int(time.time())}
        tmp = f"{_LEDGER_PATH}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(led, fh, indent=0, sort_keys=True)
        os.replace(tmp, _LEDGER_PATH)
    except OSError:
        pass


def main() -> int:
    filters = sys.argv[1:]
    keys = sorted(
        k for k in QUERIES
        if not filters or any(f in k for f in filters)
    )
    # Partition-invariance sweeps override these (e.g. CHECK_CPUS=5
    # CHECK_SHUFFLE=7 for the prime-count run recorded in BASELINE.md)
    spark = get_spark("lstore-spark-check",
                      cpus=os.environ.get("CHECK_CPUS", "8"),
                      shuffle_partitions=int(
                          os.environ.get("CHECK_SHUFFLE", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(SF_DIR)
    n_ok = n_fail = 0
    traced = False
    failures: list[str] = []
    for key in keys:
        t0 = time.time()
        try:
            df = QUERIES[key](spark, SF_DIR)
            if key in ORACLE:
                df2, sql2 = _maybe_sample(key, df, ORACLE[key])
                res = compare(key, df2, con, sql2)
                status = "OK " if res.ok else "FAIL"
                extra = res.detail
                if res.ok and res.spark_rows == 0:
                    status, extra = "FAIL", "empty result"
                if not res.ok and res.mismatches:
                    extra += " | ex: spark=%s duck=%s" % res.mismatches[0]
            else:
                n = df.count()
                status = "OK " if n > 0 else "FAIL"
                extra = f"rows-only n={n}"
        except Exception as e:
            status = "ERR "
            msg = (str(e).splitlines() or ["<no message>"])[0]
            extra = f"{type(e).__name__}: {msg[:160]}"
            if os.environ.get("CHECK_TRACE") or not traced:
                traceback.print_exc()
                traced = True
        dt = time.time() - t0
        line = f"{status} {key:34s} {dt:6.1f}s  {extra[:220]}"
        print(line, flush=True)
        _ledger_record(key, status.strip() == "OK")
        if status.strip() == "OK":
            n_ok += 1
        else:
            n_fail += 1
            failures.append(line)
    # try/finally: a recall-phase crash must still print the summary of
    # per-key results already earned and stop the session (review r11)
    try:
        if os.environ.get("LSTORE_SPARK_BIG") and not filters:
            n_rc, rf = check_ann_recall(spark)
            n_ok += n_rc - len(rf)
            n_fail += len(rf)
            failures.extend(rf)
    except Exception as e:  # noqa: BLE001 - summarize, then re-signal
        n_fail += 1
        msg = (str(e).splitlines() or ["<no message>"])[0]
        failures.append(f"ERR  recall-phase {type(e).__name__}: "
                        f"{msg[:160]}")
    finally:
        print(f"\n{n_ok}/{n_ok + n_fail} passing")
        if failures:
            print("FAILURES:")
            for f in failures:
                print(" ", f)
        spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
