"""Pins for the evidence/sweep infrastructure (review r13): the code
that decides which keys the driver re-checks first and how EVIDENCE.md
grades past runs.  A silent bug here weakens the correctness gate
without failing any query, so the semantics are pinned like operator
semantics."""

from __future__ import annotations

import json
import os


def _write(d, name, payload):
    with open(os.path.join(d, name), "w") as fh:
        json.dump(payload, fh)


def test_correctness_files_orders_by_parsed_round(tmp_path):
    """r100 sorts lexicographically BEFORE r99; the shared locator must
    order by the parsed round so latest-round-wins stays correct past
    round 99 (review r13: registry had the fix, evidence.py did not —
    one locator now)."""
    from lstore_spark.registry import correctness_files

    d = str(tmp_path)
    for rnd in (99, 100, 9, 12):
        _write(d, f"CORRECTNESS_r{rnd:02d}.json", {})
    assert [r for r, _ in correctness_files(d)] == [9, 12, 99, 100]


def test_crashed_driver_entry_reads_as_checked_not_green(tmp_path):
    """A crashed driver run (err = traceback, rows_match null) must
    grade as checked-and-NOT-green — regression priority in the
    sweep — never as rows-only evidence (review r13: the old routing
    erased the key's checked status, so a crashed key queued behind
    ~30 never-checked keys and could miss the next sweep)."""
    from lstore_spark.registry import _driver_evidence

    d = str(tmp_path)
    entry = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
    _write(d, "CORRECTNESS_r01.json", {"k_green": entry,
                                       "k_crash": entry,
                                       "k_rowsonly": {**entry,
                                                      "rows_match": None,
                                                      "hash_match": None,
                                                      "err": "no_oracle"}})
    _write(d, "CORRECTNESS_r02.json", {
        "k_crash": {"rows_match": None, "schema_match": None,
                    "hash_match": None, "spark_rows": None,
                    "oracle_rows": None,
                    "err": "Traceback: boom"}})
    green, checked, latest_round = _driver_evidence(d)
    assert "k_green" in green
    assert "k_crash" in checked and "k_crash" not in green, \
        "crashed run must keep the key in the checked-not-green tier"
    assert latest_round["k_crash"] == 2
    assert "k_rowsonly" not in checked and latest_round["k_rowsonly"] == 1


def test_evidence_md_grades_crash_as_err(tmp_path, monkeypatch):
    """scripts/evidence.py and registry must agree on the crashed-entry
    shape: evidence grades it ERR (r12 pin), registry tiers it
    checked-not-green (r13 pin)."""
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import scripts.evidence as ev

    d = str(tmp_path)
    _write(d, "CORRECTNESS_r99.json", {"k": {
        "rows_match": True, "hash_match": True, "spark_rows": 1,
        "err": None}})
    _write(d, "CORRECTNESS_r100.json", {"k": {
        "rows_match": None, "hash_match": None, "spark_rows": None,
        "err": "Traceback: boom"}})
    monkeypatch.setattr(ev, "ROOT", d)
    got = ev.driver_evidence()
    # latest (r100) wins despite sorting before r99 lexicographically
    assert got["k"] == {"round": 100, "grade": "ERR"}


def test_get_spark_honors_live_session_width(spark):
    """review r13: a default-args get_spark() against a pre-existing
    session must NOT rewrite the live session's deliberate shuffle
    width to the default (the clobber class tune() fixed in r11)."""
    from lstore_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    deliberate = "7"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, deliberate)
        got = get_spark()  # default args, session pre-exists
        assert got.conf.get(key) == deliberate, \
            "default get_spark() clobbered the live session's width"
        # an EXPLICIT width is still honored
        got2 = get_spark(shuffle_partitions=11)
        assert got2.conf.get(key) == "11"
    finally:
        spark.conf.set(key, old)


def test_selfcheck_ledger_keeps_each_fixtures_record(tmp_path, monkeypatch):
    """scripts/check.py records a key's result under the fixture it ran
    on: an sf0.01 run and a 10x run of the same key both survive, and
    scripts/evidence.py reads both back."""
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import scripts.check as chk
    import scripts.evidence as ev

    big = tmp_path / "sfbig"
    big.mkdir()
    (big / "fixture.json").write_text(json.dumps({"label": "sf0.1x10"}))
    assert chk.fixture_label(str(big)) == "sf0.1x10"
    assert chk.fixture_label("/data/sf0.01/") == "sf0.01"

    ledger = tmp_path / "scripts" / "selfcheck_ledger.json"
    ledger.parent.mkdir()
    monkeypatch.setattr(chk, "_LEDGER_PATH", str(ledger))
    monkeypatch.setenv("LSTORE_ROUND", "7")
    chk._current_round.cache_clear()
    try:
        monkeypatch.setattr(chk, "FIXTURE", "sf0.01")
        chk._ledger_record("q_k", True)
        monkeypatch.setattr(chk, "FIXTURE", "sf0.1x10")
        chk._ledger_record("q_k", False)
    finally:
        chk._current_round.cache_clear()
    got = json.loads(ledger.read_text())
    assert {fx: {k: r["ok"] for k, r in recs.items()}
            for fx, recs in got.items()} == {
        "sf0.01": {"q_k": True}, "sf0.1x10": {"q_k": False}}
    monkeypatch.setattr(ev, "ROOT", str(tmp_path))
    assert {fx: r["ok"] for fx, r in ev.self_evidence()["q_k"].items()} == {
        "sf0.01": True, "sf0.1x10": False}


def test_fingerprint_matches_the_benchmarks_copy(spark, monkeypatch):
    """metrics.fingerprinted and perfbench's own copy give the same
    (n, h) on one frame, including a map column (hashed through its
    string form) and a repeated column name (renamed positionally)."""
    from pyspark.sql import functions as F

    from lstore_spark.metrics import fingerprinted

    monkeypatch.syspath_prepend(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench"))
    import workloads

    base = spark.range(50).select(
        F.col("id"), (F.col("id") % 7).alias("id"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("m"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"))
    got = []
    for fp in (fingerprinted, workloads.fingerprinted):
        df, obs = fp(base)
        df.write.mode("overwrite").format("noop").save()
        got.append((obs.get["n"], obs.get["h"]))
    assert got[0] == got[1] and got[0][0] == 50 and got[0][1] != 0


def test_bench_timed_reports_the_fingerprint(spark):
    """bench.timed, the one noop-sink timed run, returns the result's
    row count and hash from the timed action itself."""
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import timed

    sec, fp = timed(spark, lambda s, _sf: s.range(10), "unused")
    assert sec > 0 and fp["n"] == 10 and fp["h"] is not None


def test_scale_probe_raises_when_arms_disagree():
    """scripts/scale_probe.py: a faster arm cannot also be a wrong one —
    two arms (or two runs) of a key with different result fingerprints
    raise instead of entering the ledger."""
    import sys

    import pytest
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from scripts.scale_probe import agreed_fingerprint

    same = {"n": 3, "h": "42"}
    assert agreed_fingerprint("q_k", "sf0.1", {
        "routed": [same, same], "plain": [dict(same)]}) == same
    with pytest.raises(RuntimeError, match="arms disagree"):
        agreed_fingerprint("q_k", "sf0.1", {
            "routed": [same], "plain": [{"n": 3, "h": "43"}]})
    with pytest.raises(RuntimeError, match="arms disagree"):
        agreed_fingerprint("q_k", "sf0.1", {"std": [same, {"n": 4,
                                                           "h": "42"}]})


def test_scale_ledger_rows_resolve(spark, sf_dir):
    """Every scripts/scale_probe.py PROBES row names a registered key or
    a RUNNERS row, and every RUNNERS row builds a DataFrame on the
    fixture (no action forced): a runner left passing a removed keyword
    fails here, not only when someone runs the ledger."""
    import sys

    from pyspark.sql import DataFrame
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from lstore_spark.registry import QUERIES
    from scripts.scale_probe import PROBES, RUNNERS

    unknown = [k for k, _arms, _reps in PROBES
               if k not in QUERIES and k not in RUNNERS]
    assert not unknown, f"PROBES rows with no key or runner: {unknown}"
    for name, fn in RUNNERS.items():
        assert isinstance(fn(spark, sf_dir), DataFrame), name
