"""Custom Python DataSource: read lstore-style segment files as a table.

The reference stores entries as an append-only sequence of
(int64-slots, blob-slots) records in mmap'd segment files (SURVEY.md
§1.1 — reconstruction; the mount was empty, so the binary layout here is
OUR OWN simple framing standing in for gocodec, documenting the
*plumbing*: a Spark 4 Python DataSource whose partitions are segment
files, so a directory of segments scans in parallel exactly like the
reference's segment list).

Segment framing (little-endian):
    record := offset:int64  n_ints:int32  ints[n_ints]:int64
              n_blobs:int32  (blob_len:int32 blob_bytes)*n_blobs

Pruning contract: every filtered batch read prunes segments at planning
time (``LstoreLogReader``) and hands every filter back to Spark, so
pruning is I/O elimination only; ``register()`` turns on the Python
filter-pushdown conf Spark needs to plan such a reader.

Write path: every product write goes through the DataSource writers
(``df.write.format("lstore_log")`` and its streaming twin) — executors
stage one segment per partition, the driver publishes at commit.
``write_segment`` is the driver-local writer for single files.

Worker importability: the DataSource class is pickled by reference and
its writer tasks call this module's encoder, so ``register()`` ships
the whole package to workers as a zip (``session.ship_package``, once
per application; ``tune()`` does the same) — no assumptions about
worker PYTHONPATH.  A planner worker that unpickles the class imports
this module, the catalog, the registry and the session profile only:
the package loads its key modules on the first registry read, which no
worker makes.
"""

from __future__ import annotations

import json
import os
import struct
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..catalog import fresh_scratch_dir, load_table
from ..registry import query
from ..session import ship_package

SCHEMA_DDL = "offset bigint, ints array<bigint>, blobs array<binary>, key string"

# Segment sidecar index (`part-xxxxx.idx`, JSON): the lstore *indexed
# segment* made explicit — the background indexer's per-segment blob
# summary lives NEXT TO the sealed segment, not inside it (indexer.go
# [UNVERIFIED: pub] builds separate index structures the same way).  It
# holds the distinct decoded blobs[0] values ("keys") when their count
# is ≤ _IDX_MAX_KEYS; a too-diverse or undecodable segment records
# keys=null and is never pruned.  The reader consults it at PLANNING
# time for key-equality predicates — the pbloom blob-filter skip.
_IDX_MAX_KEYS = 64


def _idx_path(seg_path: str) -> str:
    return seg_path[: -len(".seg")] + ".idx"


def live_segments(seg_dir: str) -> list[str]:
    """Sorted names of the live segments in ``seg_dir``: every ``*.seg``
    name (staged segments end in ``.seg.<attempt>`` and are not live)."""
    return sorted(f for f in os.listdir(seg_dir) if f.endswith(".seg"))


def segment_keys(seg_path: str) -> list | None:
    """Distinct blobs[0] values of a sealed segment from its sidecar
    index, or None when no sidecar exists / the key set was too large
    (caller must scan).  Shape-validated: anything but a list of
    strings degrades to None — a corrupt-but-valid-JSON sidecar (e.g.
    ``{"keys": "abc"}``) would otherwise iterate as characters inside
    the pruning set-intersection and silently skip a live segment,
    which is the one failure mode an INDEX is never allowed to cause
    (absence only disables pruning; it must never redirect it)."""
    try:
        with open(_idx_path(seg_path)) as fh:
            doc = json.load(fh)
    except (OSError, ValueError):
        return None
    ks = doc.get("keys") if isinstance(doc, dict) else None
    if not (isinstance(ks, list) and all(isinstance(k, str) for k in ks)):
        return None
    return ks


def _write_idx(path: str, keys: list | None) -> None:
    """Write a sidecar index document to ``path`` — a staging name: the
    callers rename it into place, so a reader sees the complete new
    index or none, never a torn JSON file (ADVICE r5)."""
    with open(path, "w") as fh:
        json.dump({"keys": keys}, fh)


# ------------------------------------------------------------ writers


# Sealed segments end with a stats trailer framed as a record with the
# sentinel offset -1 (real offsets are ≥ 0): ints = [min_offset,
# max_offset], no blobs — 32 bytes.  Readers skip sentinel records, so
# legacy files without a trailer parse unchanged; ``segment_stats``
# reads the trailer with one tail seek, never scanning the file.  This
# is the lstore indexed-segment summary (min/max block skipping,
# SURVEY.md §1.1/§4.2) for the segment store itself.
_TRAILER_LEN = 32


def _pack_trailer(lo: int, hi: int) -> bytes:
    return struct.pack("<qiqqi", -1, 2, lo, hi, 0)


def segment_stats(path: str) -> tuple[int, int] | None:
    """(min_offset, max_offset) from a sealed segment's trailer via one
    tail read, or None for legacy/unsealed files (caller must scan)."""
    size = os.path.getsize(path)
    if size < _TRAILER_LEN:
        return None
    with open(path, "rb") as f:
        f.seek(size - _TRAILER_LEN)
        tail = f.read(_TRAILER_LEN)
    off, n_ints = struct.unpack_from("<qi", tail, 0)
    (n_blobs,) = struct.unpack_from("<i", tail, 28)
    if off != -1 or n_ints != 2 or n_blobs != 0:
        return None
    lo, hi = struct.unpack_from("<qq", tail, 12)
    # Stats may only DISABLE pruning, never redirect it (same contract
    # as segment_keys): a corrupted tail that happens to pass the three
    # sentinel checks but carries an inverted/negative range degrades to
    # "unsealed — must scan" instead of skipping live rows.  Caveat
    # (review r12): for a LEGACY trailer-less file the tail bytes are
    # the last record's blob payload — user data — so a crafted/unlucky
    # blob ending in a well-formed trailer (sentinels + 0<=lo<=hi) WOULD
    # be believed; every writer in this module seals its files, so the
    # exposure is limited to foreign/legacy segments, and the write
    # paths reject negative offsets so data records can never collide
    # with the sentinel space.
    if lo < 0 or lo > hi:
        return None
    return lo, hi


def _write_records(
        f, rows: Iterable) -> tuple[int | None, int | None, list | None]:
    """The segment encoder — the only code that writes segment bytes.
    One pass over ``rows`` (offset, ints, blobs, ...): frame each record
    into ``f``, track the offset range and the sidecar key set (None
    past _IDX_MAX_KEYS or when a key does not decode), and seal ``f``
    with the stats trailer.  Returns (lo, hi, keys); lo is None for no
    rows (and no trailer).

    Rejects negative offsets (the trailer sentinel space: the reader
    would silently skip the record, review r12) and NULL fields (the
    format has no NULL encoding, review r13), naming the record.  The
    NULL diagnosis runs only after a pack fails, so it costs the normal
    path nothing."""
    pack, write = struct.pack, f.write
    lo = hi = None
    keys = set()
    for r in rows:
        off, ints, blobs = r[0], r[1], r[2]
        try:
            if off < 0:
                raise ValueError(
                    f"lstore_log segment: offset {off} < 0 collides with "
                    "the stats-trailer sentinel (the reader would silently "
                    "drop the row); offsets must be >= 0")
            write(pack(f"<qi{len(ints)}qi", off, len(ints), *ints,
                       len(blobs)))
            for b in blobs:
                write(pack("<i", len(b)))
                write(b)
        except (TypeError, struct.error):
            if (off is None or ints is None or blobs is None
                    or None in ints or None in blobs):
                raise ValueError(
                    f"lstore_log segment: record offset={off!r} carries "
                    "NULL ints/blobs — the segment format has no NULL "
                    "encoding; filter or sentinel-encode NULLs upstream"
                ) from None
            raise
        if lo is None:
            lo = hi = off
        elif off < lo:
            lo = off
        elif off > hi:
            hi = off
        if keys is not None and blobs:
            try:
                keys.add(str(blobs[0], "utf-8"))
            except UnicodeDecodeError:
                keys = None
            else:
                if len(keys) > _IDX_MAX_KEYS:
                    keys = None
    if lo is not None:
        write(_pack_trailer(lo, hi))
    return lo, hi, (sorted(keys) if keys is not None else None)


def write_segment(path: str,
                  records: Iterable[tuple[int, list[int], list[bytes]]]) -> None:
    """Append-only segment writer (the lstore write path analog), run
    in the calling process.

    Index/segment publish ordering (ADVICE r5): any stale sidecar is
    removed BEFORE the segment bytes change and the new sidecar is
    published (atomically, tmp+rename) only AFTER — a reader racing a
    republish sees at worst a segment with no index, which merely
    disables pruning; it can never pair an index with a segment holding
    different data (the reader would silently prune live rows)."""
    try:
        os.remove(_idx_path(path))
    except FileNotFoundError:
        pass
    with open(path, "wb") as f:
        lo, _hi, keys = _write_records(f, records)
    if lo is not None:
        idx = _idx_path(path)
        _write_idx(idx + ".tmp", keys)
        os.replace(idx + ".tmp", idx)


def events_as_segment_rows(ev: DataFrame) -> DataFrame:
    """Shape an events slice into the segment record layout:
    ints=[event_id, ts_us, user_id], blobs=[event_type] — pure projection,
    stays JVM-side until the sink's Arrow hop."""
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        F.col("event_id").alias("offset"),
        F.array(F.col("event_id"), ts_us, F.col("user_id")).alias("ints"),
        F.array(F.encode(F.col("event_type"), "UTF-8")).alias("blobs"),
    )


def segments_as_events(raw: DataFrame) -> DataFrame:
    """Inverse of :func:`events_as_segment_rows`: re-type segment records
    to named event columns."""
    return raw.select(
        F.col("ints")[0].alias("event_id"),
        F.timestamp_micros(F.col("ints")[1]).cast("timestamp_ntz").alias("ts"),
        F.col("ints")[2].alias("user_id"),
        F.col("blobs")[0].cast("string").alias("event_type"),
    )


_READ_CHUNK = 8 << 20  # 8 MiB parse window


def read_segment_file(path: str):
    """Yield (offset, ints, blobs, key) records; ``key`` is blobs[0]
    decoded as UTF-8 (None when absent/undecodable) — the top-level
    column that makes blob-equality predicates pushable.

    Streams the file through an 8 MiB parse window (review r13): the
    old ``f.read()`` slurp made peak memory O(segment) per scan task —
    N concurrent multi-GB sealed segments would OOM the Python workers
    at exactly the store sizes this module claims to serve (the sibling
    Avro reader streams block-by-block for the same reason).  Records
    still parse with ``unpack_from`` over the window, so per-record
    cost is unchanged; memory is O(window + largest record)."""
    with open(path, "rb") as f:
        data = f.read(_READ_CHUNK)
        pos = 0

        def refill(n: int) -> bool:
            """Ensure ≥ n parseable bytes remain; False = clean EOF gap."""
            nonlocal data, pos
            if len(data) - pos >= n:
                return True
            data = data[pos:] + f.read(max(_READ_CHUNK, n))
            pos = 0
            return len(data) >= n

        def abs_off() -> int:
            return f.tell() - (len(data) - pos)

        while True:
            if not refill(12):
                if len(data) - pos == 0:
                    return  # clean end at a record boundary
                raise struct.error(
                    f"torn segment {path}: short record header at "
                    f"offset {abs_off()}")
            offset, n_ints = struct.unpack_from("<qi", data, pos)
            pos += 12
            if n_ints < 0 or not refill(8 * n_ints + 4):
                raise struct.error(
                    f"torn segment {path}: record with {n_ints} ints at "
                    f"offset {abs_off() - 12} truncated")
            ints = list(struct.unpack_from(f"<{n_ints}q", data, pos))
            pos += 8 * n_ints
            (n_blobs,) = struct.unpack_from("<i", data, pos)
            pos += 4
            if n_blobs < 0:
                # fail-loud like the blob-length path below: range(-1)
                # would silently yield zero blobs and resume parsing
                # mid-payload (review r12)
                raise struct.error(
                    f"torn segment {path}: negative blob count {n_blobs} "
                    f"at offset {abs_off() - 4}")
            blobs = []
            for _ in range(n_blobs):
                if not refill(4):
                    raise struct.error(
                        f"torn segment {path}: blob length at offset "
                        f"{abs_off()} overruns the file")
                (blen,) = struct.unpack_from("<i", data, pos)
                pos += 4
                if blen < 0 or not refill(blen):
                    # Torn mid-payload: a short slice would silently
                    # yield a corrupted blob (ADVICE r5) — fail loudly
                    # like the short-header path does.
                    raise struct.error(
                        f"torn segment {path}: blob of {blen} bytes at "
                        f"offset {abs_off()} overruns the file")
                blobs.append(bytes(data[pos: pos + blen]))
                pos += blen
            if offset >= 0:  # negative offset = stats trailer, not data
                try:
                    key = blobs[0].decode("utf-8") if blobs else None
                except UnicodeDecodeError:
                    key = None
                yield offset, ints, blobs, key


# ------------------------------------------------------------ the DataSource


class LstoreLogDataSource(DataSource):
    """spark.read.format("lstore_log").load(dir): one input partition per
    segment file — the parallel-scan unit matches the storage unit."""

    @classmethod
    def name(cls) -> str:
        return "lstore_log"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> "LstoreLogReader":
        return LstoreLogReader(self.options)

    def streamReader(self, schema) -> "LstoreLogStreamReader":
        return LstoreLogStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "LstoreLogWriter":
        return LstoreLogWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "LstoreLogStreamWriter":
        return LstoreLogStreamWriter(self.options)


@dataclass
class _SegStaged(WriterCommitMessage):
    """(staged seg path, staged idx path, final seg path) — executors
    stage, the driver publishes at commit."""
    tmp_seg: str
    tmp_idx: str
    final_seg: str


def _stage_partition(seg_dir: str, basename: str, rows) -> _SegStaged:
    """Executor side of a segment write: encode this partition's rows
    into `.stage-…` files (segment + sidecar index content, both
    invisible to readers — only `*.seg` names are listed) and report
    them for ``_publish``.  Rows must carry (offset bigint, ints
    array<bigint>, blobs array<binary>) as their first three fields."""
    from pyspark import TaskContext

    attempt = TaskContext.get().taskAttemptId()
    tmp_seg = os.path.join(seg_dir, f".stage-{basename}.seg.{attempt}")
    tmp_idx = os.path.join(seg_dir, f".stage-{basename}.idx.{attempt}")
    with open(tmp_seg, "wb") as f:
        lo, _hi, keys = _write_records(f, rows)
    if lo is None:  # empty partition → nothing to publish
        os.remove(tmp_seg)
        return _SegStaged(tmp_seg="", tmp_idx="", final_seg="")
    _write_idx(tmp_idx, keys)
    return _SegStaged(
        tmp_seg=tmp_seg, tmp_idx=tmp_idx,
        final_seg=os.path.join(seg_dir, f"part-{basename}.seg"))


def _publish(seg_dir: str, messages, stale_prefix: str | None = None) -> None:
    """The one publish rule, run on the driver at job commit once EVERY
    task has staged, so a failed job leaves zero new `*.seg` files.
    Staged segments are renamed into place; per segment the ADVICE-r5
    ordering holds (stale idx removed before the segment bytes appear,
    fresh idx renamed in only after), and a republish under the same
    final name replaces it whole.

    ``stale_prefix`` names the published generation this commit
    replaces: ``""`` (overwrite: every segment) or a batch's name
    prefix (a replayed micro-batch).  Those `.seg`/`.idx` names are
    listed BEFORE the renames and deleted only AFTER them — a crash
    between the two steps leaves a transient union of both
    generations, never missing rows (ADVICE r6)."""
    stale = []
    if stale_prefix is not None:
        fresh = {os.path.basename(m.final_seg) for m in messages
                 if m and m.final_seg}
        stale = [f for f in os.listdir(seg_dir)
                 if f.startswith(stale_prefix) and f.endswith((".seg", ".idx"))
                 and f[:-4] + ".seg" not in fresh]
    for m in messages:
        if not m or not m.final_seg:
            continue
        idx = _idx_path(m.final_seg)
        try:
            os.remove(idx)
        except FileNotFoundError:
            pass
        os.replace(m.tmp_seg, m.final_seg)
        os.replace(m.tmp_idx, idx)
    for f in stale:
        try:
            os.remove(os.path.join(seg_dir, f))
        except FileNotFoundError:
            pass


def _abort(messages) -> None:
    for m in messages or []:
        for p in [getattr(m, "tmp_seg", ""), getattr(m, "tmp_idx", "")]:
            if p:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass


class LstoreLogWriter(DataSourceWriter):
    """``df.write.format("lstore_log").option("path", dir).save()`` —
    the batch write surface of the source, two-phase: executors stage
    one segment per partition, the driver publishes all-or-nothing at
    job commit.  ``overwrite`` publishes the new (job-token-named)
    segments FIRST and only then deletes the old generation's files —
    a crash between the two steps leaves a transient union of both
    generations, never data loss (ADVICE r6: the old delete-then-
    publish order could drop the store if the driver died mid-commit)."""

    def __init__(self, options, overwrite: bool):
        import uuid
        self.path = options.get("path")
        self.overwrite = overwrite
        # Job-scoped token in the segment names: append jobs must never
        # collide with segments a PREVIOUS job published (bare part-<pid>
        # names made a second 3-partition append silently clobber a
        # 2-partition store's files — caught by the time-travel oracle).
        self.token = uuid.uuid4().hex[:8]
        if not self.path:
            raise ValueError("lstore_log writer requires .option('path', dir)")

    def write(self, iterator) -> _SegStaged:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        return _stage_partition(self.path, f"{self.token}-{pid:05d}", iterator)

    def commit(self, messages) -> None:
        # new names carry this job's uuid token, so they can never
        # collide with (or be mistaken for) old-generation files
        _publish(self.path, messages, "" if self.overwrite else None)

    def abort(self, messages) -> None:
        _abort(messages)


class LstoreLogStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("lstore_log")`` — segments named by
    (epoch, partition), so a replayed micro-batch republishes byte-
    identical files over itself via atomic rename: exactly-once output
    without a commit log, the same write-once-segment argument as
    q_stream_follow's source side."""

    def __init__(self, options):
        import uuid
        self.path = options.get("path")
        # Run-scoped token (review r12): taskAttemptId counters reset
        # per Spark APPLICATION, so after a crash-restart a zombie task
        # from the old run could share a `.stage-b-<pid>.seg.<attempt>`
        # path with the new run's task and interleave writes into one
        # staging file — the same class of collision the batch writer's
        # job token closed.  Replay idempotence is unaffected: commit
        # publishes first and then deletes any part-<batchId>-* names
        # not in the fresh set, so a replay under a new token converges.
        self.token = uuid.uuid4().hex[:8]
        if not self.path:
            raise ValueError(
                "lstore_log stream writer requires .option('path', dir)")

    def write(self, iterator) -> _SegStaged:
        from pyspark import TaskContext
        tc = TaskContext.get()
        # partitionId is batch-scoped; the epoch/batch id arrives in
        # commit — stage under a run+task-unique name, publish under
        # the batch-qualified name chosen at commit time.
        return _stage_partition(
            self.path, f"b-{self.token}-{tc.partitionId():05d}", iterator)

    def commit(self, messages, batchId: int) -> None:
        for m in messages:
            if m and m.final_seg:
                # qualify the final name with the batch id so replays
                # overwrite themselves and never collide across batches
                base = os.path.basename(m.final_seg)
                m.final_seg = os.path.join(
                    self.path, f"part-{batchId:06d}-{base[len('part-'):]}")
        # Replay idempotence must hold even when the replayed batch
        # plans a DIFFERENT partition count (changed shuffle config or
        # file chunking across a restart): rename-over-self only covers
        # names the new attempt also produces, so any published
        # part-<batchId>-* files NOT in this attempt's set must go
        # (ADVICE r6 — stale extra partitions were duplicate rows).
        # A crash between publish and delete leaves transient
        # duplicates that the next replay of this batch re-deletes.
        _publish(self.path, messages, f"part-{batchId:06d}-")

    def abort(self, messages, batchId: int) -> None:
        _abort(messages)


class _SegmentPartitionReader:
    """The partition reader the batch and stream readers share: one
    ``InputPartition`` per segment path, decoded by
    ``read_segment_file``."""

    @staticmethod
    def _plan(paths: Iterable[str]) -> list:
        # Zero partitions is not a shape the Python DataSource API
        # accepts (Spark still schedules one task and hands read() a
        # None partition — found when a caught-up consumer's cursor
        # pruned EVERY sealed segment, and when retention deleted
        # segments mid-tail, review r12): ship one explicit empty
        # partition instead.
        return [InputPartition(p) for p in paths] or [InputPartition(None)]

    def read(self, partition):
        if partition is None or partition.value is None:
            return  # the explicit empty partition: no segments to scan
        yield from read_segment_file(partition.value)


class LstoreLogReader(_SegmentPartitionReader, DataSourceReader):
    """The batch reader, with lstore-style segment skipping: offset-range
    predicates prune whole segment files at PLANNING time against the
    sealed trailer stats (one tail seek per file — the segment-index
    read), and key predicates against the sidecar key sets, before any
    executor touches data.  All filters are returned to Spark
    unhandled, so exact row filtering still happens above the scan —
    the pushdown is pure I/O elimination, exactly like parquet
    row-group min/max skipping.  Spark calls ``pushFilters`` only under
    the Python filter-pushdown conf, which ``register`` sets."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            # same contract as the writers: a missing/typo'd path option
            # must error, not os.listdir(None) → scan the driver's cwd
            # and return an empty frame (review r10)
            raise ValueError("lstore_log reader requires .option('path', dir)")
        self.version = options.get("version")  # time travel (manifest id)
        # consumer scale-out (r11): an instance reads ONLY its assigned
        # segment files — comma-separated basenames from
        # streaming.consumers.assign_segments.  Missing files fail
        # loudly below (an assignment names segments that must exist).
        segs = options.get("segments")
        self.segments = ({s.strip() for s in segs.split(",") if s.strip()}
                         if segs else None)
        self._lo = None  # offset >= _lo (from pushed filters)
        self._hi = None  # offset <= _hi
        self._keys = None  # key ∈ _keys (conjunctive; None = unconstrained)

    def _keep(self, path: str) -> bool:
        if (self.segments is not None
                and os.path.basename(path) not in self.segments):
            return False  # not this consumer instance's slice
        if self._lo is None and self._hi is None and self._keys is None:
            # no pushed predicates (a filterless read lands here):
            # nothing can prune, so skip the per-segment trailer tail
            # read — O(#segments) planning I/O for nothing (review r12)
            return True
        if self._keys is not None:
            ks = segment_keys(path)
            if ks is not None and not self._keys.intersection(ks):
                return False  # the pbloom skip: no wanted key present
        if self._lo is None and self._hi is None:
            # only key predicates pushed (review r13): the offset-bounds
            # comparison below is vacuously true, so skip the
            # per-segment trailer tail read it would cost
            return True
        stats = segment_stats(path)
        if stats is None:
            return True  # unsealed/legacy segment: must scan
        lo, hi = stats
        return not ((self._lo is not None and hi < self._lo)
                    or (self._hi is not None and lo > self._hi))

    def partitions(self):
        if self.version is not None:
            # time travel: the segment list comes from the pinned
            # manifest, not the live directory — later-published
            # segments are invisible, and a manifest segment missing
            # from disk (vacuumed past its retention) fails LOUDLY
            # rather than silently returning a subset.
            names = manifest_segments(self.path, int(self.version))
            files = []
            for n in sorted(names):
                p = os.path.join(self.path, n)
                if not os.path.exists(p):
                    raise FileNotFoundError(
                        f"snapshot v{self.version} references {n}, which "
                        f"no longer exists in {self.path} (expired by "
                        "retention?)")
                files.append(p)
        else:
            files = [os.path.join(self.path, f)
                     for f in live_segments(self.path)]
        if self.segments is not None:
            present = {os.path.basename(f) for f in files}
            missing = self.segments - present
            if missing:
                raise FileNotFoundError(
                    f"assigned segments missing from {self.path}: "
                    f"{sorted(missing)} — stale assignment (store "
                    "compacted/purged since assign_segments ran?)")
        return self._plan(f for f in files if self._keep(f))

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (EqualTo, GreaterThan,
                                            GreaterThanOrEqual, In, LessThan,
                                            LessThanOrEqual)

        def tighten(lo=None, hi=None):
            if lo is not None:
                self._lo = lo if self._lo is None else max(self._lo, lo)
            if hi is not None:
                self._hi = hi if self._hi is None else min(self._hi, hi)

        def constrain_keys(wanted: set) -> None:
            # conjunctive: intersect with any earlier key constraint
            self._keys = wanted if self._keys is None \
                else self._keys.intersection(wanted)

        for f in filters:
            if getattr(f, "attribute", None) == ("offset",):
                v = getattr(f, "value", None)
                if isinstance(f, GreaterThanOrEqual) and isinstance(v, int):
                    tighten(lo=v)
                elif isinstance(f, GreaterThan) and isinstance(v, int):
                    tighten(lo=v + 1)
                elif isinstance(f, LessThanOrEqual) and isinstance(v, int):
                    tighten(hi=v)
                elif isinstance(f, LessThan) and isinstance(v, int):
                    tighten(hi=v - 1)
                elif isinstance(f, EqualTo) and isinstance(v, int):
                    tighten(lo=v, hi=v)
                elif isinstance(f, In) and f.value \
                        and all(isinstance(x, int) for x in f.value):
                    # sound envelope: [min, max] of the IN list
                    tighten(lo=min(f.value), hi=max(f.value))
            elif getattr(f, "attribute", None) == ("key",):
                # blob-membership skip against the sidecar key sets —
                # the pbloom analog (conjunctive filters: every bound
                # applies)
                if isinstance(f, EqualTo) \
                        and isinstance(getattr(f, "value", None), str):
                    constrain_keys({f.value})
                elif isinstance(f, In) and f.value \
                        and all(isinstance(x, str) for x in f.value):
                    constrain_keys(set(f.value))
        return filters  # nothing claimed: Spark re-applies every filter


class LstoreLogStreamReader(_SegmentPartitionReader, DataSourceStreamReader):
    """Streaming tail over a segment directory — the lstore consumer
    model made literal, in its SCALABLE form (upgraded r5 from a
    SimpleDataSourceStreamReader, which funnels every record through the
    driver): the driver does only O(#segments) metadata work and the
    executors read the bytes.

    Offset = the set of sealed segment files consumed so far (segments
    are write-once: the sink publishes them by atomic rename and never
    appends to a published file, so "new since my cursor" is exactly the
    filename-set difference — lstore's sealed-segment tail).  Each
    micro-batch plans ONE InputPartition per new segment, read in
    parallel on executors; restart replay is deterministic because
    ``partitions(start, end)`` is a pure function of the two offsets."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            # match the batch reader/writers (review r10): error loudly
            # instead of listing the driver's cwd via os.listdir(None)
            raise ValueError(
                "lstore_log stream reader requires .option('path', dir)")

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": live_segments(self.path)}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["files"]) - set(start["files"]))
        return self._plan(os.path.join(self.path, f) for f in new)

    def commit(self, end: dict) -> None:
        pass  # the store is the source of truth; nothing to acknowledge


def register(spark: SparkSession) -> None:
    """Register the data source and turn on Python filter pushdown for
    the session, the one place that conf is set: Spark plans a reader
    with ``pushFilters`` only under it, and readers without one plan as
    before.  Both run on every call (a second session on the same
    context needs them); the zip ships once per application."""
    ship_package(spark)
    spark.dataSource.register(LstoreLogDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


# ------------------------------------------------------------ oracle query


@query(
    "q_source_lstore_log",
    oracle="""
SELECT event_id, ts, user_id, event_type
FROM events WHERE event_id < 2000
""",
)
def q_source_lstore_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the reference's storage model: an event slice is
    written as segment files by the DISTRIBUTED writer (one ``.seg`` per
    partition, executor-side — no driver collect; VERDICT r4 item 2),
    read back via the custom DataSource in parallel, and re-typed to
    named columns.  Oracle compares against the original parquet — codec
    + sink + source fidelity end-to-end."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 2000))
    seg_dir = fresh_scratch_dir("segments", sf_dir)
    # range-partitioned + offset-sorted: segments carry disjoint offset
    # ranges exactly like lstore's log, so the sealed min/max trailers
    # make offset predicates prune whole files (tests/test_lstore_sink.py)
    register(spark)
    (events_as_segment_rows(ev)
     .repartitionByRange(2, "offset")
     .sortWithinPartitions("offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    raw = spark.read.format("lstore_log").option("path", seg_dir).load()
    return segments_as_events(raw)


@query(
    "q_scan_log_from_offset",
    oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE event_id >= 5000 AND event_id < 9000
""",
)
def q_scan_log_from_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lstore's core read — scan from an offset cursor — against the
    segment store ITSELF, with segment skipping end-to-end: the full
    event log lands as 8 range-partitioned sealed segments (disjoint
    offset ranges + min/max trailers), and the offset-window read
    prunes files whose range can't match at planning time (pytest
    asserts the plan-time file count; the oracle proves the skipped
    files contained nothing the query needed).  At
    100 TB this is the whole point of the segment index: a tail-window
    consumer touches O(window), not O(log)."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logscan", sf_dir)
    register(spark)
    (events_as_segment_rows(ev)
     .repartitionByRange(8, "offset")
     .sortWithinPartitions("offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    raw = (spark.read.format("lstore_log").option("path", seg_dir).load()
           .filter((F.col("offset") >= 5000) & (F.col("offset") < 9000)))
    return segments_as_events(raw).select("event_id", "user_id", "event_type")


_SINK_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(SUM(user_id % 1000000007) AS BIGINT) AS sum_user,
       CAST(SUM(epoch_us(ts) % 1000000007) AS BIGINT) AS sum_ts_us
FROM events
GROUP BY event_type
"""


def _sink_roundtrip(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """Full-table segment sink round-trip: EVERY event row flows through
    ``df.write.format("lstore_log")`` (executors stage one segment per
    partition, the driver publishes all-or-nothing at job commit;
    tests/test_lstore_sink.py proves a failed job publishes zero
    segments), back through the parallel DataSource read, then into a
    per-type aggregate whose oracle recomputes from the original
    parquet — every field of every record must survive the binary codec
    for the sums to hash-match.  This is the lstore write path
    (writer.go [UNVERIFIED: pub], SURVEY.md §1.1) as a real sink: at
    100 TB the same shape, one appender task per partition against a
    shared store, no driver hop."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir(tag, sf_dir)
    register(spark)
    (events_as_segment_rows(ev).repartition(8, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", seg_dir).load())
    # checksums are mod-reduced per row (terms < 1e9) so the BIGINT sum
    # cannot overflow at any realistic row count (1e9 · rows ≪ 2^63 up
    # to ~9e9 rows/group; caught overflowing at the ~sf1 sweep otherwise)
    p = F.lit(1000000007)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.col("user_id") % p).alias("sum_user"),
        F.sum(F.unix_micros(F.col("ts").cast("timestamp")) % p).alias("sum_ts_us"),
    )


@query("q_sink_lstore_log", oracle=_SINK_ORACLE)
def q_sink_lstore_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table segment sink round-trip (``_sink_roundtrip``): the
    same program as q_sink_lstore_native, over its own scratch store."""
    return _sink_roundtrip(spark, sf_dir, "logsink")


@query("q_sink_lstore_native", oracle=_SINK_ORACLE)
def q_sink_lstore_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table segment sink round-trip (``_sink_roundtrip``): the
    same program as q_sink_lstore_log, over its own scratch store."""
    return _sink_roundtrip(spark, sf_dir, "lognative")


@query(
    "q_scan_log_by_type",
    oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE event_type = 'purchase'
""",
)
def q_scan_log_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lstore's blob-filtered search (pbloom skip) against the segment
    store: the full event log lands as segments hash-clustered on the
    blob key (each segment holds the 1-2 event types that hash to it;
    the sink's sidecar index records each segment's key set), and the
    ``key = 'purchase'`` read prunes segments whose index provably
    lacks the key at PLANNING time —
    tests/test_lstore_sink.py asserts the plan-time file count drops.
    The oracle proves the skipped files contained nothing the query
    needed.  At 100 TB this is lstore's per-block blob bloom made
    file-granular: a type-selective consumer touches O(matching
    segments), not O(log)."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logbytype", sf_dir)
    register(spark)
    (events_as_segment_rows(ev).repartition(8, F.col("blobs")[0])
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    raw = (spark.read.format("lstore_log").option("path", seg_dir).load()
           .filter(F.col("key") == "purchase"))
    return raw.select(
        F.col("ints")[0].alias("event_id"),
        F.col("ints")[2].alias("user_id"),
        F.col("key").alias("event_type"))


def vacuum_store(seg_dir: str, min_age_s: float = 3600.0,
                 keep_manifests: int | None = None) -> dict:
    """Garbage-collect a segment store: remove (a) orphaned staging
    files (``.stage-*`` / ``*.tmp-*`` left by failed or aborted jobs —
    invisible to readers, but they accumulate) and (b) orphaned sidecar
    indexes whose segment no longer exists (retention/compaction removed
    the ``.seg``; a keyless leftover ``.idx`` is harmless to correctness
    — the reader pairs indexes BY segment name — but it is dead weight).
    Files younger than ``min_age_s`` are kept: an in-flight job's stage
    files look identical to orphans, and age is the only safe
    discriminator without a job registry (the VACUUM retention-window
    rule).  The default is ONE HOUR, not 0 (review r13): a zero default
    made the bare call delete a concurrently-staging job's files and
    abort its commit — callers that own the store exclusively (tests,
    the vacuum exhibit on its fresh scratch dir) pass 0.0 explicitly.  Live ``*.seg`` files are NEVER touched — vacuum is a no-op
    on data by construction.  ``keep_manifests=N`` additionally retires
    all but the newest N manifest snapshots (default None = keep all:
    dropping a manifest breaks time travel to that version, so
    retention is strictly opt-in).  Returns
    {"staged": n, "orphan_idx": n, "manifests": n}."""
    import time
    now = time.time()
    removed = {"staged": 0, "orphan_idx": 0, "manifests": 0}
    names = set(os.listdir(seg_dir))
    retire = set()
    if keep_manifests is not None:
        mans = sorted((f for f in names if f.startswith("manifest-v")
                       and f.endswith(".json")),
                      key=lambda f: int(f[len("manifest-v"):-len(".json")]))
        retire = set(mans[:-keep_manifests] if keep_manifests else mans)
    for f in sorted(names):
        p = os.path.join(seg_dir, f)
        # ``endswith('.tmp')`` catches snapshot_store's manifest temps
        # (manifest-…​.json.tmp — suffix, no trailing dash; ADVICE r6
        # found them immune to the old test and accumulating forever).
        is_stage = (f.startswith(".stage-") or ".tmp-" in f
                    or f.endswith(".tmp"))
        is_orphan_idx = (f.endswith(".idx")
                         and f[:-len(".idx")] + ".seg" not in names)
        is_old_manifest = f in retire
        if not (is_stage or is_orphan_idx or is_old_manifest):
            continue
        try:
            if now - os.path.getmtime(p) < min_age_s:
                continue
            os.remove(p)
        except FileNotFoundError:
            continue
        removed["staged" if is_stage
                else "orphan_idx" if is_orphan_idx else "manifests"] += 1
    return removed


@query(
    "q_maint_vacuum_store",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def q_maint_vacuum_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM as an operator: build a store through the native writer,
    plant the debris a real deployment accumulates (an aborted job's
    staging files + a sidecar orphaned by segment removal... re-created
    here directly), vacuum, and read the store back — the oracle
    recomputes from the original parquet, so hash-green means vacuum
    removed every orphan WITHOUT touching a byte of live data.

    Scale: vacuum is O(#files) driver-side metadata work (one listdir +
    stat per candidate), the same cost class as the streaming tail's
    planning step; data files are never read."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logvacuum", sf_dir)
    register(spark)
    (events_as_segment_rows(ev).repartition(4, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    # plant debris: an "aborted job" staging pair + an orphan index
    for junk in [".stage-b-00009.seg.77", ".stage-b-00009.idx.77",
                 "part-99999.idx"]:
        with open(os.path.join(seg_dir, junk), "w") as f:
            f.write("{}")
    # min_age_s=0: this exhibit owns its fresh scratch dir exclusively,
    # so the in-flight-writer age guard (default 1 h) is safely waived
    removed = vacuum_store(seg_dir, min_age_s=0.0)
    assert removed == {"staged": 2, "orphan_idx": 1, "manifests": 0}, removed
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", seg_dir).load())
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"))


# ------------------------------------------------------------ snapshots


def snapshot_store(seg_dir: str) -> int:
    """Publish a manifest snapshot of the store: ``manifest-v{N}.json``
    listing every live ``*.seg`` (atomically, tmp+rename) — the
    lakehouse snapshot-isolation pattern brought to the segment log.
    Because segments are write-once (published by rename, never
    appended after sealing), the NAME LIST alone pins an immutable
    version: readers with ``option("version", N)`` see exactly this
    set forever, concurrent appends land in later versions, and
    retention that deletes a pinned segment turns into a loud
    time-travel error, not silent row loss.  Returns the version id."""
    import uuid
    # Version minting is CAS, not max+1-then-replace: os.replace would
    # silently overwrite a manifest a concurrent publisher minted with
    # the same id, REDEFINING a pinned snapshot (VERDICT r6 #1).  The
    # full content goes to a uniquely-named tmp first, then os.link —
    # atomic and EEXIST-failing — claims the version name; on a lost
    # race we re-list and retry with the next id.  Loop is bounded by
    # the number of concurrent publishers.
    tmp = os.path.join(seg_dir, f"manifest-{uuid.uuid4().hex[:8]}.json.tmp")
    while True:
        # Re-list SEGMENTS inside the loop too, not just versions: a
        # publisher that loses the race may be retrying after new
        # segments were committed and the winning manifest captured
        # them — republishing its pre-race list under a HIGHER version
        # would make the newest snapshot silently pin FEWER committed
        # segments than an older one (review r10).
        segs = live_segments(seg_dir)
        versions = [int(f[len("manifest-v"):-len(".json")])
                    for f in os.listdir(seg_dir)
                    if f.startswith("manifest-v") and f.endswith(".json")]
        v = max(versions, default=0) + 1
        p = os.path.join(seg_dir, f"manifest-v{v}.json")
        with open(tmp, "w") as fh:
            json.dump({"version": v, "segments": segs}, fh)
        try:
            os.link(tmp, p)
        except FileExistsError:
            continue  # lost the race — mint the next id
        except FileNotFoundError:
            # a concurrent vacuum_store with min_age_s=0 can collect the
            # just-written tmp before the link lands — rewrite and retry
            continue
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass  # concurrent vacuum (min_age_s=0) collected the tmp
        return v


def manifest_segments(seg_dir: str, version: int) -> list[str]:
    """Segment names pinned by manifest ``version`` (shape-validated
    like segment_keys: a corrupt manifest raises rather than silently
    narrowing the snapshot)."""
    p = os.path.join(seg_dir, f"manifest-v{version}.json")
    with open(p) as fh:
        doc = json.load(fh)
    segs = doc.get("segments") if isinstance(doc, dict) else None
    if not (isinstance(segs, list) and all(isinstance(s, str) for s in segs)):
        raise ValueError(f"corrupt manifest {p}")
    return segs


@query(
    "q_scan_log_time_travel",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events WHERE event_id < 500
GROUP BY event_type
""",
)
def q_scan_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated time travel on the segment store: publish the
    first 500 events, snapshot (v1), append the REST of the table, then
    read ``option("version", 1)`` — the oracle recomputes the <500
    slice from parquet, so hash-green proves the pinned manifest shows
    exactly the v1 rows and none of the later appends.

    Scale: a manifest is O(#segments) names written once per snapshot —
    the same metadata cost class as the streaming tail's planning; reads
    at a version do zero extra I/O (the list replaces a listdir)."""
    ev = load_table(spark, sf_dir, "events")
    seg_dir = fresh_scratch_dir("logtt", sf_dir)
    register(spark)
    (events_as_segment_rows(ev.filter(F.col("event_id") < 500))
     .repartition(2, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    v1 = snapshot_store(seg_dir)
    # later history: appended AFTER the snapshot, must stay invisible
    # to v1 readers (different partition count → different file names,
    # no collision with the v1 segments)
    (events_as_segment_rows(ev.filter(F.col("event_id") >= 500))
     .repartition(3, "offset")
     .write.format("lstore_log").option("path", seg_dir)
     .mode("append").save())
    snapshot_store(seg_dir)
    back = segments_as_events(
        spark.read.format("lstore_log").option("path", seg_dir)
        .option("version", str(v1)).load())
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"))
