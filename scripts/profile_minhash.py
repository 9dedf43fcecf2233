"""Stage-by-stage wall-clock profile of q_llm_dedup_minhash at a given
fixture (default the 10x /tmp/sfbig), to locate where the big-SF time
goes before optimizing anything: signature build, banding+hot-cap,
candidate pairs, full key.

Usage: [MINHASH_SF_DIR=/tmp/sfbig] python scripts/profile_minhash.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lstore_spark.catalog import load_table  # noqa: E402
from lstore_spark.llm.dedup import (  # noqa: E402
    lsh_candidate_pairs,
    minhash_signatures,
    q_llm_dedup_minhash,
)
from lstore_spark.registry import pin  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("MINHASH_SF_DIR", "/tmp/sfbig")


def timed(label, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"{label:40s} {dt:7.2f}s  {out}")
    return dt


def main() -> None:
    spark = get_spark()
    docs = load_table(spark, SF_DIR, "documents")
    # warm the JVM + scan cache once
    docs.count()

    timed("docs.count (scan)", lambda: docs.count())
    sig = None

    def build_sig():
        nonlocal sig
        sig = pin(minhash_signatures(docs))
        return sig.count()

    timed("signatures + pin (count fills the cache)", build_sig)
    timed("banding explode + hot-cap + join (pairs.count)",
          lambda: lsh_candidate_pairs(sig).count())
    t0 = time.perf_counter()
    df = q_llm_dedup_minhash(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    print(f"{'full key end-to-end':40s} {time.perf_counter() - t0:7.2f}s")


if __name__ == "__main__":
    main()
