"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line on stdout:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {key: sec, ...}, "sf": 0.1, ...}

Each query is forced end-to-end with a noop-format write (full compute,
no collect-to-driver cost in the measurement).  One JVM warm-up query
runs first and is discarded.

Quiet-window protocol (VERDICT r12 #4): the headline loop runs
``$SPARK_GRAFT_BENCH_PASSES`` times (default 3) and each query reports
its per-pass MEDIAN — every round since r10 has measured multi-second
ambient swings on this shared host (hypervisor steal, noisy neighbors)
that single-shot timings false-flag as regressions.  The JSON carries
the evidence to adjudicate any residual drift: per-pass totals, per-
query min (the host-noise floor), fixed-work calibration probes
(single-thread + all-core) before/after, /proc/stat steal delta, and a
Spark-side fixed-work re-run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lstore_spark.registry import QUERIES  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per major family, weighted toward shuffle/join/window
# heavy shapes (the ones whose plans matter at 100 TB).
HEADLINE = [
    "q_scan_full",
    "q_filter_int_range",
    "q_agg_groupby_hash",
    "q_agg_count_distinct",
    "q_join_broadcast",
    "q_join_sort_merge",
    "q_join_multiway_star",
    "q_join_asof",
    "q_win_rank_topn",
    "q_stream_session_window",
    "q_topk_limit",
    "q_tpch_q3_shipping",
    "q_evt_retention",
    "q_stream_sliding_sum",
    "q_llm_text_tfidf",
    "q_llm_text_chunk",
    "q_llm_dedup_exact",
    "q_llm_dedup_minhash",
    "q_llm_sim_cosine_topk",
    "q_llm_emb_pq_adc",
    "q_llm_dedup_substring",  # added r6: span-keyed shuffle (Lee-et-al dedup)
    "q_llm_dedup_semantic",   # added r7: SemDeDup flagship (VERDICT r6 #1)
    "q_tpch_q8_market_share",  # added r7: widest star (7 relations)
    "q_llm_index_search",      # added r8: stored-index ANN search (DPP-pruned)
]


def calibration_probe(n: int = 2_000_000) -> float:
    """Fixed-work CPU probe (VERDICT r8 #5): time a constant pure-Python
    loop so 'environment drift' claims are machine-checkable from the
    bench JSON itself.  On an idle host this runs in a stable window;
    host contention inflates it by roughly the same factor it inflates
    the query timings.  Seconds, rounded."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i ^ (i >> 3)
    if acc == 0:  # consume acc without assert (stripped under -O)
        raise RuntimeError("calibration loop optimized away")
    return round(time.perf_counter() - t0, 4)


def _pcal_work(n: int) -> int:
    # module-level so ProcessPoolExecutor can pickle it
    acc = 0
    for i in range(n):
        acc += i ^ (i >> 3)
    return acc


def parallel_calibration_probe(n: int = 400_000, workers: int = 16) -> float:
    """All-core fixed-work probe (r10): ``workers`` processes each run a
    constant loop; reports the WALL time for the batch.  The single-
    thread probe above can stay rock-stable (0.13 s) while the host's
    PARALLEL capacity drifts — CPU steal on a shared VM, frequency
    drop under sustained all-core load, a noisy neighbor — which is
    exactly the regime a 32-thread Spark stage runs in.  Together the
    two probes separate 'code regressed' from 'host parallel capacity
    shrank': query inflation with BOTH probes stable is code; inflation
    tracking this probe (single-thread stable) is the host."""
    import concurrent.futures as cf

    t0 = time.perf_counter()
    with cf.ProcessPoolExecutor(max_workers=workers) as ex:
        # NOT inside an assert: `python -O` strips assert statements,
        # which would silently skip the ex.map and time an idle pool
        # (review r11)
        results = list(ex.map(_pcal_work, [n] * workers))
    if not all(r != 0 for r in results):
        raise RuntimeError("parallel calibration work optimized away")
    return round(time.perf_counter() - t0, 4)


def _steal_jiffies() -> int | None:
    """Cumulative CPU-steal jiffies from /proc/stat (field 8) — nonzero
    growth during the run means the hypervisor withheld cycles."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else None
    except (OSError, ValueError):
        return None


def host_snapshot() -> dict:
    """Load average + free memory + steal counter at measurement time
    (VERDICT r8 #5; steal added r10 for the drift thread)."""
    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:
        load1 = load5 = load15 = None
    mem_avail_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    mem_avail_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return {"loadavg_1m": load1, "loadavg_5m": load5,
            "loadavg_15m": load15, "mem_available_kb": mem_avail_kb,
            "steal_jiffies": _steal_jiffies()}


def run_once(spark, key: str) -> float:
    t0 = time.perf_counter()
    df = QUERIES[key](spark, SF_DIR)
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def timed(spark, fn, sf_dir: str) -> tuple[float, dict]:
    """THE noop-sink timed run of every measurement script: build
    ``fn(spark, sf_dir)``, force it end-to-end into the noop sink (full
    compute, no collect-to-driver cost) and return (seconds, result
    fingerprint ``{"n": rows, "h": str}``).  The fingerprint
    (``metrics.fingerprinted``) rides the timed action: no extra pass."""
    from lstore_spark.metrics import fingerprinted

    t0 = time.perf_counter()
    df, obs = fingerprinted(fn(spark, sf_dir))
    df.write.mode("overwrite").format("noop").save()
    sec = time.perf_counter() - t0
    got = obs.get
    h = got.get("h")
    return sec, {"n": int(got["n"]), "h": None if h is None else str(h)}


class host_noise:
    """Context: the host-noise evidence around a timed loop.  Runs the
    fixed-work calibration probes and reads the steal counter on entry
    and again on a clean exit, and fills the dict it yields with
    ``calibration_sec`` / ``parallel_calibration_sec`` (before/after)
    and ``steal_jiffies_delta``.  Query inflation with both probes
    stable is code; inflation tracking the all-core probe is the host."""

    def __enter__(self) -> dict:
        self.fields: dict = {}
        self.before = (calibration_probe(), parallel_calibration_probe(),
                       _steal_jiffies())
        return self.fields

    def __exit__(self, exc_type, *exc) -> bool:
        if exc_type is None:
            c0, p0, s0 = self.before
            c1, p1, s1 = (calibration_probe(), parallel_calibration_probe(),
                          _steal_jiffies())
            self.fields.update(
                calibration_sec={"before": c0, "after": c1},
                parallel_calibration_sec={"before": p0, "after": p1},
                steal_jiffies_delta=(s1 - s0 if s0 is not None
                                     and s1 is not None else None))
        return False


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def _artifact(build, dirs: list[str]) -> dict:
    """Ensure one fixture-derived artifact: ``build()`` publishes it
    (``catalog.build_once``) unless ``dirs`` already exist.  Returns its
    state (reused/built/absent), the seconds ``build`` took and the
    bytes on disk.  A failed build is reported absent, not raised: the
    keys that read the artifact then measure their fallback."""
    reused = all(os.path.isdir(d) for d in dirs)
    t0 = time.perf_counter()
    try:
        build()
    except Exception as e:
        print(f"# warm-up: {dirs[0]} not built: {e!r}", file=sys.stderr)
        return {"state": "absent",
                "build_sec": round(time.perf_counter() - t0, 3), "bytes": 0}
    build_s = round(time.perf_counter() - t0, 3)
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:  # the builder publishes somewhere else: a tag drifted
        raise RuntimeError(f"built, but {missing} do not exist")
    return {"state": "reused" if reused else "built", "build_sec": build_s,
            "bytes": sum(_dir_bytes(d) for d in dirs)}


def warm_up(spark, sf_dir: str) -> dict:
    """Everything a timed loop must not pay, run once and discarded.

    * The JVM/codegen warm-up key.
    * The Python-worker warm-up: fork the Arrow worker pool and import
      numpy in it (a per-executor one-time cost; production pools are
      pre-forked, so without this the first pandas-UDF key absorbs the
      pool spawn).
    * Every fixture-derived artifact a key reads on its production path
      (train-once/read-many): the ANN index (q_llm_index_search's
      search-only cost), the PQ codebook (q_llm_emb_pq_adc), and every
      ``BUCKET_FAMILIES`` layout the order-/customer-grain keys route
      onto — without it a cold scratch root would make the first run
      measure the plain-parquet fallback and the next the routed plans.

    Returns, per artifact, its state (reused/built/absent), build
    seconds and bytes on disk; layouts also carry ``n_buckets``."""
    from pyspark.sql import functions as F

    from lstore_spark import catalog
    from lstore_spark.llm.ann_index import ann_index_dir, build_ann_index
    from lstore_spark.llm.embeddings import pq_codebook

    timed(spark, QUERIES["q_agg_groupby_hash"], sf_dir)

    @F.pandas_udf("long")
    def _warm(x):
        import numpy as np  # noqa: F401
        return x

    spark.range(32).repartition(32).select(_warm("id")) \
         .write.mode("overwrite").format("noop").save()
    fp = catalog.fixture_fingerprint(sf_dir)
    out = {
        "ann_index": _artifact(lambda: build_ann_index(spark, sf_dir),
                               [ann_index_dir(sf_dir)]),
        # pq_codebook publishes under scratch_dir("pqcb2", ...)
        "pq_codebook": _artifact(
            lambda: pq_codebook(spark, sf_dir),
            [catalog.scratch_dir("pqcb2", sf_dir, key=fp)[0]]),
    }
    out["layouts"] = {}
    for fam, cfg in catalog.BUCKET_FAMILIES.items():
        out["layouts"][fam] = dict(_artifact(
            lambda: catalog.build_bucket_layout(spark, sf_dir, family=fam),
            [catalog.scratch_dir(f"{cfg['tag']}_{t}", sf_dir, key=fp)[0]
             for t in cfg["keys"]]),
            n_buckets=catalog.bucket_layout_n(sf_dir, family=fam))
    return out


def _dir_id(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns


def main() -> None:
    from lstore_spark.llm.ann_index import ann_index_dir

    spark = get_spark("lstore-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # index_reused: the timed loop searched an index that existed before
    # this run and that nothing rebuilt (the dir is the artifact: it is
    # complete iff it exists, and a rebuild publishes a new inode)
    idx_dir = ann_index_dir(SF_DIR)
    idx0 = _dir_id(idx_dir)
    artifacts = warm_up(spark, SF_DIR)
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    passes: list[dict[str, float]] = []
    with host_noise() as noise:
        for _ in range(n_passes):
            t: dict[str, float] = {}
            for key in HEADLINE:
                t[key] = round(run_once(spark, key), 3)
            passes.append(t)
    import statistics

    times = {k: round(statistics.median(p[k] for p in passes), 3)
             for k in HEADLINE}
    times_min = {k: min(p[k] for p in passes) for k in HEADLINE}
    pass_totals = [round(sum(p.values()), 3) for p in passes]
    # Spark-side fixed-work probe: re-run the FIRST headline key after
    # the whole sequence.  Its delta vs times["q_agg_groupby_hash"]
    # exposes in-session JVM inflation (GC/broadcast pressure) that a
    # pure-Python probe cannot see.
    spark_probe = round(run_once(spark, "q_agg_groupby_hash"), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    out = {
        "metric": "total_wall_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        # Quiet-window evidence: value/queries are per-query medians
        # over the passes; the min is each query's observed noise floor,
        # and the pass totals expose the ambient spread that a
        # single-shot run would bake into one number.  Pass 1 carries
        # the per-process one-time costs (codegen compile, JIT,
        # Python-pool shapes); later passes measure the compile-once/
        # run-many steady state.
        "protocol": f"median-of-{n_passes}",
        "pass_total_sec": pass_totals,
        "spread_sec": round(max(pass_totals) - min(pass_totals), 3),
        "queries_min": times_min,
        "queries_per_pass": passes,
        # host load/memory, then the calibration probes and steal delta
        # around the headline loop (host_noise)
        "host": host_snapshot(),
        **noise,
        "spark_probe_rerun_sec": spark_probe,
        "index_reused": idx0 is not None and _dir_id(idx_dir) == idx0,
        # which bucket-layout families backed the routed keys this run
        # ("reused" | "built" | "absent" — absent means those keys
        # measured the plain-parquet fallback plans)
        "bucket_layouts": {fam: a["state"]
                           for fam, a in artifacts["layouts"].items()},
        # per artifact: state, build seconds, bytes (layouts: n_buckets)
        "artifacts": artifacts,
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
