"""Repeated sub-stage decomposition of q_llm_dedup_minhash (r14 session 2).

The residue note ("Not yet optimized" #1) named the banding payload as
the untried lever; before building anything, split the key's time into
its real parts, with reps, so the lever is chosen on numbers:

  tok    doc scan + JVM tokenize + per-token hash (the interpreted-HOF
         half of the signature stage)
  sig    tok + the Arrow mh_sig UDF (full signature projection)
  band   posexplode of the signature UDF's bkts over a checkpointed sig
  hot    band + the hot-bucket width aggregate
  pairs  full lsh_candidate_pairs (band + hot + anti + self-join)
  full   the declared key end-to-end

Usage: [MINHASH_SF_DIR=...] [REPS=3] python scripts/profile_minhash_r14.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lstore_spark.catalog import load_table  # noqa: E402
from lstore_spark.llm.dedup import (  # noqa: E402
    lsh_candidate_pairs, minhash_signatures, q_llm_dedup_minhash)
from lstore_spark.llm.text import _SPARK_TOKENS  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("MINHASH_SF_DIR", "/tmp/sf100x")
REPS = int(os.environ.get("REPS", "3"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark("profile-minhash-r14")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents")
    docs.count()  # warm scan

    sig_ck = minhash_signatures(docs).localCheckpoint()
    banded = sig_ck.select("doc_id", "mhs", "bkts",
                           F.posexplode("bkts").alias("band", "bkt"))

    stages = {
        "tok": lambda: noop(
            docs.select("doc_id", F.expr(_SPARK_TOKENS).alias("ts"))
                .select("doc_id",
                        F.expr("transform(ts, t -> hash(t))").alias("th"))),
        "sig": lambda: noop(minhash_signatures(docs)),
        "band": lambda: noop(banded),
        "hot": lambda: noop(banded.groupBy("band", "bkt")
                            .agg(F.count(F.lit(1)).alias("bw"))
                            .filter(F.col("bw") > 64)),
        "pairs": lambda: noop(lsh_candidate_pairs(sig_ck)),
        "full": lambda: noop(q_llm_dedup_minhash(spark, SF_DIR)),
    }
    out: dict[str, list[float]] = {k: [] for k in stages}
    for k, fn in stages.items():  # discarded codegen warm-up pass
        fn()
    for _ in range(REPS):
        for k, fn in stages.items():
            spark.sparkContext.setJobDescription(f"profmh:{k}")
            t0 = time.perf_counter()
            fn()
            out[k].append(round(time.perf_counter() - t0, 2))
    print(json.dumps({"sf_dir": SF_DIR, "reps": REPS, "stages": out}))
    spark.stop()


if __name__ == "__main__":
    main()
