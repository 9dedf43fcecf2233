"""The scale ledger: the re-runnable evidence for the 100 TB claims.

The sf0.1 headline (bench.py) is fixed-overhead-bound, so shuffle
structure is nearly invisible in it.  This script times the shuffle-
and LLM-heavy keys on each fixture given by ``--sf`` (the 10x/100x
key-shifted copies come from scripts/make_sfbig.py), runs each ROUTED
key in both its bucketed-layout and plain-parquet fallback forms,
records every run's result fingerprint and fails if two arms of a key
disagree (a faster arm cannot also be a wrong one), records each
fixture's artifact builds (bench.warm_up: state, seconds, bytes) and
each arm's plan shape, and emits ONE JSON line with the host-noise
evidence (bench.host_noise) alongside.  Each key's growth is the ratio
of its median between consecutive ``--sf`` fixtures.

Fixtures (built once):
  SFBIG_DIR=/tmp/sfbig SFBIG_REPLICAS=10 python scripts/make_sfbig.py

Usage:
  python scripts/scale_probe.py --sf DIR [--sf DIR ...] [key-substring ...]
Env: SCALE_PROBE_REPS (overrides every row's reps),
SPARK_GRAFT_DRIVER_MEM (defaulted to 48g here).

Methodology: bench.timed (noop sink, fingerprint observed on the timed
action) after one untimed run per arm, one shared session, the repo's
standard scale-parameterised confs (AQE on, shuffle partitions NOT
retuned per scale), arms of the same key interleaved so ambient drift
hits both equally.  Plain arms
point LSTORE_SPARK_SCRATCH_ROOT at an empty dir for the duration of the
arm (layouts invisible -> routed_tables falls back to plain parquet);
the _nb arms additionally disable the broadcast threshold, to check
that a broadcast-shaped routed key's routed join really is the
co-located zero-exchange merge.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import host_noise, host_snapshot, timed, warm_up  # noqa: E402
from lstore_spark.registry import QUERIES, load_all, release_pins  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402
from scripts.check import fixture_label  # noqa: E402

ROUTED = ("routed", "plain")
ROUTED_NB = ("routed_nb", "plain_nb")
STD = ("std",)

# (key, arms, reps).  Arms: "routed" (layouts present), "plain" (scratch
# root hidden), "routed_nb"/"plain_nb" (same + auto-broadcast off).
# Non-routed keys run one "std" arm.  A key is a registry key or a
# RUNNERS row (a production-shape variant no registry key runs).
PROBES: list[tuple[str, tuple[str, ...], int]] = [
    # Routed order-grain joins and rollups.
    ("q_join_sort_merge", ROUTED, 3),
    ("q_tpch_q3_shipping", ROUTED, 3),
    ("q_tpch_q5_local_supplier", ROUTED, 3),
    ("q_tpch_q8_market_share", ROUTED, 3),
    ("q_tpch_q10_returns", ROUTED, 3),
    ("q_join_exists_flag", ROUTED, 3),
    # Routed cust-grain joins and rollups.
    ("q_join_inner_hash", ROUTED, 3),
    ("q_tpch_q13_custdist", ROUTED, 3),
    ("q_tpch_q22_idle_rich", ROUTED, 3),
    # Broadcast-shaped routed key: with the broadcast gate off, routed
    # must compile to the co-located merge and beat the shuffled plain.
    ("q_join_left_semi", ROUTED_NB, 3),
    # Heaviest non-routed relational shapes.
    ("q_agg_groupby_hash", STD, 3),
    ("q_sort_multi_key", STD, 2),
    ("q_tpch_q7_volume", STD, 2),  # un-routed r14: plain beat routed
    ("q_agg_count_distinct", STD, 2),
    ("q_join_multiway_star", STD, 2),
    ("q_join_asof", STD, 2),
    ("q_join_bloom_prune", STD, 2),
    ("q_win_running_sum", STD, 2),
    ("q_win_time_range", STD, 2),
    ("q_tpch_q6_forecast", STD, 2),
    ("q_tpch_q14_promo", STD, 2),
    ("q_tpch_q15_top_supplier", STD, 2),
    ("q_tpch_q17_small_qty", STD, 2),
    ("q_tpch_q19_brand_bands", STD, 2),
    ("q_agg_heavy_hitters_cms", STD, 2),
    ("q_agg_quantile_sketch", STD, 2),
    ("q_agg_entropy_mi", STD, 2),
    ("q_agg_approx_distinct_merge", STD, 2),
    ("q_profile_key_skew", STD, 2),
    ("q_cdc_snapshot_diff", STD, 2),
    ("q_mv_incremental_refresh", STD, 2),
    ("q_graph_rank_2hop", STD, 2),
    # Events-grain sessions, windows and time series.
    ("q_stream_session_window", STD, 2),
    ("q_evt_retention", STD, 2),
    ("q_evt_rfm", STD, 2),
    ("q_evt_markov", STD, 2),
    ("q_evt_conversion_time", STD, 2),
    ("q_evt_active_users", STD, 2),
    ("q_evt_growth_accounting", STD, 2),
    ("q_evt_basket_lift", STD, 2),
    ("q_ts_counter_rate", STD, 2),
    ("q_ts_interpolate", STD, 2),
    ("q_ts_ewma", STD, 2),
    ("q_ts_cusum", STD, 2),
    ("q_ts_drawdown", STD, 2),
    ("q_ts_zscore_rolling", STD, 2),
    # LLM-pipeline dedup, similarity and embeddings.
    ("q_llm_dedup_exact", STD, 2),
    ("q_llm_dedup_minhash", STD, 2),
    ("q_llm_dedup_clusters_portable", STD, 2),
    ("q_llm_dedup_semantic", STD, 2),
    ("semantic_adaptive", STD, 2),
    ("q_llm_dedup_substring", STD, 2),
    ("substring_w50", STD, 2),
    ("q_llm_dedup_simhash", STD, 2),
    ("q_llm_sim_cosine_topk", STD, 2),
    ("q_llm_sim_hamming_topk", STD, 2),
    ("q_llm_sim_lsh_topk", STD, 2),
    ("q_llm_sim_ivf_topk", STD, 2),
    ("q_llm_emb_pq_adc", STD, 2),
    ("q_llm_sample_importance", STD, 2),
    ("q_llm_pipeline_e2e", STD, 2),
    # LLM-pipeline token-family text keys.
    ("q_llm_text_fingerprint", STD, 2),
    ("q_llm_text_repetition", STD, 2),
    ("q_llm_text_perplexity", STD, 2),
    ("q_llm_text_lm_score", STD, 2),
    ("q_llm_text_ngrams", STD, 2),
    ("q_llm_text_tokenize_tf", STD, 2),
    ("q_llm_text_redact", STD, 2),
    ("q_llm_text_tfidf", STD, 2),
    ("q_llm_text_char_entropy", STD, 2),
    ("q_llm_text_keywords", STD, 2),
]


def _semantic_adaptive(spark, sf_dir):
    """The production SemDeDup path: k grows with the corpus (the
    registered key's fixed k=8 exists for the static oracle twin and is
    quadratic at scale).  With the IVF-routed hierarchical assignment
    (O(n·√k) cosines), n·√k + n²/k is minimised at k = n^(2/3)."""
    from lstore_spark.catalog import load_table, table_rows
    from lstore_spark.llm.dedup import semantic_dedup

    n = table_rows(sf_dir, "embeddings")
    return semantic_dedup(load_table(spark, sf_dir, "embeddings"),
                          n_clusters=max(8, int(n ** (2.0 / 3.0))),
                          hierarchical=True, max_cluster_width=1024)


def _substring_w50(spark, sf_dir):
    """q_llm_dedup_substring at the production window width: 50
    tokens, the corpus read through the key's own loader."""
    from lstore_spark.catalog import load_documents
    from lstore_spark.llm.dedup import substring_dedup

    return substring_dedup(load_documents(spark, sf_dir), w=50)


RUNNERS = {"semantic_adaptive": _semantic_adaptive,
           "substring_w50": _substring_w50}


class arm_env:
    """Context: hide the scratch root (plain arms) and/or disable the
    broadcast threshold (nb arms) for the duration of one arm."""

    def __init__(self, spark, arm: str, hide_root: str):
        self.spark, self.arm, self.hide_root = spark, arm, hide_root

    def __enter__(self):
        if self.arm.startswith("plain"):
            self._old_root = os.environ.get("LSTORE_SPARK_SCRATCH_ROOT")
            os.environ["LSTORE_SPARK_SCRATCH_ROOT"] = self.hide_root
        if self.arm.endswith("_nb"):
            self._old_thr = self.spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold")
            self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return self

    def __exit__(self, *exc):
        if self.arm.startswith("plain"):
            if self._old_root is None:
                os.environ.pop("LSTORE_SPARK_SCRATCH_ROOT", None)
            else:
                os.environ["LSTORE_SPARK_SCRATCH_ROOT"] = self._old_root
        if self.arm.endswith("_nb"):
            self.spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", self._old_thr)
        return False


def plan_stats(df) -> dict:
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    return {
        # formatted-explain detail headers: one "(n) Operator" per node
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", text)),
        "broadcast_exchanges": len(
            re.findall(r"\(\d+\) BroadcastExchange\b", text)),
        "sorts": len(re.findall(r"\(\d+\) Sort\b", text)),
        "bucket_scans": text.count("lstore_bkt"),
    }


def agreed_fingerprint(key: str, label: str,
                       fps: dict[str, list[dict]]) -> dict:
    """The one result fingerprint every run of every arm of ``key`` on
    fixture ``label`` produced; raises if any two runs disagree."""
    seen = {(f["n"], f["h"]) for runs in fps.values() for f in runs}
    if len(seen) != 1:
        raise RuntimeError(f"{key} at {label}: arms disagree on the "
                           f"result fingerprint: {fps}")
    n, h = seen.pop()
    return {"n": n, "h": h}


def probe_key(spark, key: str, arms: tuple[str, ...], reps: int,
              sf_dir: str, label: str, hide_root: str) -> dict:
    """One key on one fixture: each arm's plan shape and one untimed
    run (the key's first-run codegen and artifact builds stay out of
    its median), then ``reps`` interleaved timed runs per arm, then the
    agreed fingerprint."""
    fn = RUNNERS.get(key) or QUERIES[key]
    entry: dict = {}
    for a in arms:
        with arm_env(spark, a, hide_root):
            entry[f"plan_{a}"] = plan_stats(fn(spark, sf_dir))
            timed(spark, fn, sf_dir)
        release_pins()
    times: dict[str, list[float]] = {a: [] for a in arms}
    fps: dict[str, list[dict]] = {a: [] for a in arms}
    for i in range(reps):
        for a in arms:
            with arm_env(spark, a, hide_root):
                spark.sparkContext.setJobDescription(f"scale:{key}:{a}:{i}")
                sec, fp = timed(spark, fn, sf_dir)
            release_pins()
            times[a].append(round(sec, 2))
            fps[a].append(fp)
    for a in arms:
        entry[a] = {"runs_sec": times[a],
                    "median": round(statistics.median(times[a]), 2),
                    "min": min(times[a])}
    entry["fingerprint"] = agreed_fingerprint(key, label, fps)
    return entry


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", action="append", required=True, metavar="DIR",
                    help="fixture dir; repeat for a scale series")
    ap.add_argument("filters", nargs="*", metavar="key-substring")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    load_all()
    probes = [p for p in PROBES
              if not args.filters or any(f in p[0] for f in args.filters)]
    # a filter may name a registry key outside PROBES: run it plain
    listed = {p[0] for p in PROBES}
    probes += [(k, STD, 2) for k in sorted(QUERIES) if k not in listed
               and any(f in k for f in args.filters)]
    fixtures = {fixture_label(d): d for d in args.sf}
    labels = list(fixtures)
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    artifacts = {}
    for label, d in fixtures.items():
        artifacts[label] = warm_up(spark, d)
        print(f"# warm-up {label}: {artifacts[label]}", file=sys.stderr)
    default_reps = os.environ.get("SCALE_PROBE_REPS")
    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="lstore_probe_empty_") \
            as hide_root, host_noise() as noise:
        for key, arms, reps in probes:
            reps = int(default_reps) if default_reps else reps
            entry = results[key] = {}
            for label, d in fixtures.items():
                entry[label] = probe_key(spark, key, arms, reps, d, label,
                                         hide_root)
                print(f"# {key} {label}: " + " ".join(
                    f"{a}={entry[label][a]['runs_sec']}" for a in arms)
                    + f" n={entry[label]['fingerprint']['n']}",
                    file=sys.stderr, flush=True)
            entry["growth"] = {
                f"{lo}->{hi}": {a: round(entry[hi][a]["median"]
                                         / entry[lo][a]["median"], 2)
                                for a in arms if entry[lo][a]["median"] > 0}
                for lo, hi in zip(labels, labels[1:])}
    out = {
        "fixtures": fixtures,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "warm_up": artifacts,
        "keys": results,
        "host": host_snapshot(),
        **noise,
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
