"""Pins for the r10 review fixes in catalog.py: directory-style
table_rows, stat-signature cache invalidation, tag-wide dead-PID
reaping, and the build-once publish rule for shared dir artifacts."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from lstore_spark import catalog


def _write_docs(sf_dir: str, rows: list[tuple[int, str]],
                as_dir: bool = False) -> None:
    t = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": [r[1] for r in rows]})
    path = os.path.join(sf_dir, "documents.parquet")
    if as_dir:
        os.makedirs(path, exist_ok=True)
        half = len(rows) // 2
        pq.write_table(t.slice(0, half), os.path.join(path, "part-0.parquet"))
        pq.write_table(t.slice(half), os.path.join(path, "part-1.parquet"))
    else:
        pq.write_table(t, path)


def test_table_rows_directory_style_table(tmp_path):
    """table_rows must sum part-file footers for Spark-written
    directory-style tables (review r10: it used to raise
    IsADirectoryError, crashing every stats-gated broadcast decision
    on that layout)."""
    _write_docs(str(tmp_path), [(i, f"doc {i}") for i in range(7)],
                as_dir=True)
    assert catalog.table_rows(str(tmp_path), "documents") == 7


def test_metadata_caches_invalidate_on_regeneration(tmp_path):
    """Row-count metadata must track in-place fixture regeneration: the
    cache key folds in the file stat signature (review r10 — a
    path-only key served stale counts after a regenerate)."""
    _write_docs(str(tmp_path), [(i, "x") for i in range(3)])
    assert catalog.table_rows(str(tmp_path), "documents") == 3
    # rewrite the fixture at the SAME path with more rows
    _write_docs(str(tmp_path), [(i, "x") for i in range(5)])
    assert catalog.table_rows(str(tmp_path), "documents") == 5


def test_load_table_invalidates_on_regeneration(spark, tmp_path):
    """The cached DataFrame carries an eager file index; a regenerated
    fixture at the same path must produce a fresh plan, not stale file
    lists (review r10)."""
    _write_docs(str(tmp_path), [(1, "one")])
    assert catalog.load_table(spark, str(tmp_path), "documents").count() == 1
    _write_docs(str(tmp_path), [(1, "one"), (2, "two"), (3, "three")])
    assert catalog.load_table(spark, str(tmp_path), "documents").count() == 3


def test_fresh_scratch_reaper_spans_fingerprints(tmp_path, monkeypatch):
    """Dead-PID scratch dirs from OLD fixture fingerprints must be
    reaped too (review r10: fingerprint-scoped reaping let regenerated
    fixtures leak one dir set per regeneration forever)."""
    monkeypatch.setenv("LSTORE_SPARK_SCRATCH_ROOT", str(tmp_path))
    _write_docs(str(tmp_path), [(1, "a")])
    # a dead-PID dir under a DIFFERENT (old) fingerprint of the same tag
    dead = tmp_path / "lstore_spark_sink_0123456789_p999999999"
    dead.mkdir()
    out = catalog.fresh_scratch_dir("sink", str(tmp_path))
    assert not dead.exists(), "old-fingerprint dead-PID dir not reaped"
    # live dirs (our own) survive
    assert os.path.isdir(out)


def test_table_rows_refuses_nested_or_empty_directory_tables(tmp_path):
    """ADVICE r10: a hive-partitioned (nested) or part-file-less
    directory table must raise, not answer 0 — a silent 0 makes
    fits_broadcast unconditionally true."""
    import pytest

    nested = tmp_path / "nested"
    part = nested / "documents.parquet" / "day=2026-01-01"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64())}),
                   str(part / "part-0.parquet"))
    with pytest.raises(ValueError, match="nested"):
        catalog.table_rows(str(nested), "documents")

    empty = tmp_path / "empty"
    (empty / "documents.parquet").mkdir(parents=True)
    with pytest.raises(ValueError, match="no parquet"):
        catalog.table_rows(str(empty), "documents")


def test_reapable_pid_recycle_detection(tmp_path):
    """ADVICE r10 / review r11: PID reuse can make a dead session's dir
    look owned forever.  The /proc start-time check settles it exactly:
    a live PID that STARTED AFTER the dir's last write is a recycle
    (reapable); one that started before it may be the owner (kept, even
    if the dir has been quiescent for days — the blunt age rule's false
    positive)."""
    d = tmp_path / "dir"
    d.mkdir()
    me = os.getpid()
    assert not catalog._reapable(str(d), me), "fresh live-owner dir reaped"
    # dir last written long before this process started → recycle
    past = os.stat(d).st_mtime - 30 * 24 * 3600
    os.utime(d, (past, past))
    assert catalog._reapable(str(d), me), "post-start mtime not treated as recycle"
    assert catalog._reapable(str(d), 999999999), "dead PID must reap"
    # a process started BEFORE the dir's mtime (PID 1, up since boot)
    # could be the owner: never reaped while alive, however old the dir
    d2 = tmp_path / "dir2"
    d2.mkdir()
    if catalog._pid_start_epoch(1) is not None:
        assert not catalog._reapable(str(d2), 1), \
            "possible live owner reaped"


def test_reapable_without_proc_is_liveness_only(tmp_path, monkeypatch):
    """ADVICE r11: on platforms without /proc start times there is no
    way to distinguish a PID recycle from a quiescent live owner, so a
    LIVE pid is never reapable there — an mtime-age fallback would let
    a newly started process delete a live multi-week session's scratch
    dir (the exact false positive the start-time path was built to
    avoid).  Dead PIDs still reap."""
    d = tmp_path / "dir"
    d.mkdir()
    ancient = os.stat(d).st_mtime - 365 * 24 * 3600
    os.utime(d, (ancient, ancient))
    monkeypatch.setattr(catalog, "_pid_start_epoch", lambda pid: None)
    assert not catalog._reapable(str(d), os.getpid()), \
        "live PID reaped on age alone without /proc evidence"
    assert catalog._reapable(str(d), 999999999), "dead PID must still reap"


def test_publish_dir_reraises_non_race_failures(tmp_path):
    """ADVICE r10: an os.rename failure with NO winner at the final
    path (missing parent here) must re-raise the original OSError —
    silently discarding the staged build left callers to fail later
    with an unrelated missing-path error."""
    import pytest

    tmp = tmp_path / "staged"
    tmp.mkdir()
    open(tmp / "data", "w").close()
    final = str(tmp_path / "no_such_parent" / "artifact")
    with pytest.raises(OSError):
        catalog.publish_dir(str(tmp), final)
    assert os.path.exists(tmp / "data"), "staged copy must survive"


def test_session_honors_requested_shuffle_width(spark):
    """review r11: get_spark(shuffle_partitions=8) was silently
    overridden back to 32 by the runtime-conf loop and tune() — the
    whole suite ran at a width nobody asked for.  tune() must replace
    only the STOCK default (200), never a deliberate setting."""
    from lstore_spark.session import tune

    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "8", \
        "conftest's explicit width was clobbered"
    tune(spark)
    assert spark.conf.get(key) == "8", "tune() clobbered a deliberate width"
    try:
        spark.conf.set(key, "200")  # an untuned plain session's stock value
        tune(spark)
        assert spark.conf.get(key) != "200", \
            "tune() must still fix the stock default"
    finally:
        spark.conf.set(key, "8")


def test_publish_dir_atomic_and_loser_discards(tmp_path):
    """publish_dir: winner's rename lands the artifact; a loser's
    publish leaves the winner's copy intact and removes the loser's
    staging dir (review r10 — replaces concurrent overwrite writes
    into a shared live dir)."""
    final = str(tmp_path / "artifact")
    tmp_a = catalog.build_tmp_dir(final)
    os.makedirs(tmp_a)
    open(os.path.join(tmp_a, "winner"), "w").close()
    catalog.publish_dir(tmp_a, final)
    assert os.path.exists(os.path.join(final, "winner"))

    tmp_b = f"{final}.build_p_loser"
    os.makedirs(tmp_b)
    open(os.path.join(tmp_b, "loser"), "w").close()
    catalog.publish_dir(tmp_b, final)
    assert os.path.exists(os.path.join(final, "winner")), "winner clobbered"
    assert not os.path.exists(os.path.join(final, "loser"))
    assert not os.path.exists(tmp_b), "staging dir leaked"


def test_build_once_builds_once_and_leaves_nothing_on_failure(tmp_path):
    """build_once: an existing artifact is returned without calling
    ``write``; a raising ``write`` leaves neither the artifact nor its
    staging dir, so the next call rebuilds from scratch."""
    import pytest

    final = str(tmp_path / "artifact")
    calls = []

    def write(tmp):
        calls.append(tmp)
        open(os.path.join(tmp, "data"), "w").close()

    assert catalog.build_once(final, write) == final
    assert os.path.exists(os.path.join(final, "data"))
    assert catalog.build_once(final, write) == final
    assert len(calls) == 1, "write called for a published artifact"

    failed = str(tmp_path / "failed")

    def boom(tmp):
        open(os.path.join(tmp, "half"), "w").close()
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        catalog.build_once(failed, boom)
    assert not os.path.exists(failed), "failed build published"
    assert not os.path.exists(f"{failed}.build_p{os.getpid()}"), \
        "failed build leaked its staging dir"
    assert catalog.build_once(failed, write) == failed
    assert os.path.exists(os.path.join(failed, "data"))


def test_pid_alive_overflow_pid_is_dead(tmp_path):
    """review r12: an absurd PID suffix (junk dir in world-writable
    /tmp) raised OverflowError from os.kill — NOT an OSError — and
    killed every query whose reaper hit it."""
    huge = 10 ** 20
    assert not catalog._pid_alive(huge)
    d = tmp_path / f"lstore_spark_sinkx_0123456789_p{huge}"
    d.mkdir()
    assert catalog._reapable(str(d), huge)


def test_table_rows_skips_metadata_debris_dirs(tmp_path):
    """review r12: a crashed write's _temporary/ (or .checkpoints) in a
    directory-style table must not crash the stats gate — Spark's own
    reader skips underscore/dot-prefixed paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    d = tmp_path / "fx"
    tbl = d / "orders.parquet"
    tbl.mkdir(parents=True)
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2, 3], pa.int64())}),
                   str(tbl / "part-0.parquet"))
    (tbl / "_temporary").mkdir()
    (tbl / ".ipynb_checkpoints").mkdir()
    assert catalog.table_rows(str(d), "orders") == 3
    # a REAL nested layout still fails loudly
    (tbl / "o_dt=2024").mkdir()
    with pytest.raises(ValueError, match="nested"):
        catalog.table_rows(str(d), "orders")


def test_build_tmp_dir_reaps_dead_pid_slots(tmp_path, monkeypatch):
    """review r12: a killed build's .build_p<pid> staging dir matched
    no reaper pattern and leaked its fixture-sized contents forever."""
    final = tmp_path / "lstore_spark_bkt_abc"
    dead = tmp_path / "lstore_spark_bkt_abc.build_p999999999"
    dead.mkdir()
    (dead / "junk").write_text("x")
    live_pid = os.getpid()
    live = tmp_path / f"lstore_spark_bkt_abc.build_p{live_pid}x"  # not ours
    tmp = catalog.build_tmp_dir(str(final))
    assert not dead.exists(), "dead-PID staging slot not reaped"
    assert tmp.endswith(f".build_p{live_pid}")


def test_table_cache_purges_stopped_sessions():
    """review r12: the r11 weakref purge could never fire (cached
    DataFrames strongly pin their session via DataFrame._session), so
    stopped sessions leaked for the process lifetime; deadness is now
    STOPPED (sparkContext._jsc is None — what SparkContext.stop sets).
    Simulated with stub sessions: actually stopping a second session
    here would kill the suite's shared SparkContext."""
    import types
    import weakref

    class _Stub:  # weakref-able stand-in with the probed attribute
        def __init__(self, jsc):
            self.sparkContext = types.SimpleNamespace(_jsc=jsc)

    live, stopped = _Stub(jsc=object()), _Stub(jsc=None)
    for s in (live, stopped):
        catalog._SESSION_REFS[id(s)] = weakref.ref(s)
        catalog._TABLE_CACHE[(id(s), "/fx", "region")] = ("sig", object())
    catalog._purge_dead_sessions()
    try:
        assert (id(live), "/fx", "region") in catalog._TABLE_CACHE, \
            "live session's plans must survive"
        assert not any(k[0] == id(stopped) for k in catalog._TABLE_CACHE), \
            "stopped session's cached plans not purged"
        assert id(stopped) not in catalog._SESSION_REFS
    finally:
        catalog._SESSION_REFS.pop(id(live), None)
        catalog._TABLE_CACHE.pop((id(live), "/fx", "region"), None)


def test_spread_rows_is_row_count_gated(spark, sf_dir, monkeypatch):
    """spread_rows (r14 session 2): a row-count-derived repartition for
    CPU-bound per-row stages over under-split compressed-text scans.
    Below the 4-task threshold — every local fixture — it must return
    the table's SAME frame (bench plans byte-identical); above it, the
    task count derives from footer row stats capped at 4× parallelism.
    It loads the table itself, so no caller can hand it a frame its
    row count does not describe; load_documents is its documents
    form."""
    from lstore_spark import catalog

    docs = catalog.load_table(spark, sf_dir, "documents")
    assert catalog.spread_rows(spark, sf_dir) is docs  # fixture: no-op
    assert catalog.load_documents(spark, sf_dir) is docs

    monkeypatch.setattr(catalog, "table_rows", lambda s, t: 500_000)
    out = catalog.load_documents(spark, sf_dir)
    assert out is not docs
    expect = min(
        (500_000 + catalog.SPREAD_ROWS_PER_TASK - 1)
        // catalog.SPREAD_ROWS_PER_TASK,
        spark.sparkContext.defaultParallelism * 4)
    assert out.rdd.getNumPartitions() == expect

    # never REDUCES parallelism: if the scan already splits wider,
    # pass through untouched
    wide = docs.repartition(expect + 7)
    monkeypatch.setattr(catalog, "load_table", lambda s, d, t: wide)
    assert catalog.spread_rows(spark, sf_dir) is wide
