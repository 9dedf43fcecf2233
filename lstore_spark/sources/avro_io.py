"""Avro interchange: a pure-Python Object Container File codec behind a
Spark Python DataSource.

The runtime ships the Avro LIBRARY jars (avro-1.12.1 in
``$SPARK_HOME/jars``) but NOT the ``spark-avro`` DataSource module, and
the sandbox has no package resolution (BASELINE.md round-8 evidence) —
so the one mainstream interchange format the engine lacked is
implemented here from the PUBLIC Avro 1.12 specification
(https://avro.apache.org/docs/1.12.0/specification/):

* binary encoding — zigzag varints for int/long, little-endian IEEE754
  for float/double, length-prefixed bytes/utf8, union = branch-index
  varint then value;
* object container framing — ``Obj\\x01`` magic, file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker, then
  blocks of (row-count varint, byte-size varint, payload, sync);
* codecs — ``null`` and ``deflate`` (raw RFC-1951 via zlib, wbits=-15).

Spec compliance is proven against the BUNDLED JVM library, not by
self-consistency: tests/test_avro.py reads files written here through
``org.apache.avro.file.DataFileReader`` via py4j, and reads a
JVM-written file back through this decoder (both directions).

Scale shape: the sink writes one container file per partition
executor-side (each task publishes its own file by tmp+rename,
task-retry-safe; the lstore_log DataSource writers instead stage on the
executors and publish the whole job at commit), and the source plans
one partition per file.  Avro's sync markers would also
support block-level splits WITHIN a file (seek + scan-to-sync); at the
task-per-file granularity producers actually emit, file-level
parallelism is the standard plan, so the splitter is deliberately not
implemented.

Supported schema subset (all this engine's tables need): a flat record
of boolean / int / long / float / double / string / bytes, nullable
unions ``["null", T]``, and ``long`` with the ``local-timestamp-micros``
or ``timestamp-micros`` logical type (Spark TIMESTAMP_NTZ / TIMESTAMP).
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import zlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..catalog import fresh_scratch_dir, load_table
from ..registry import query
from ..session import ship_package

MAGIC = b"Obj\x01"

# ------------------------------------------------------------ binary codec
#
# Stdlib-only, module-level functions: the writer closure and the
# DataSource reader both run on executors, importing this module from
# the shipped package zip.


def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def write_varint(buf: bytearray, u: int) -> None:
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def write_long(buf: bytearray, n: int) -> None:
    write_varint(buf, zigzag(n))


def write_bytes(buf: bytearray, b: bytes) -> None:
    write_long(buf, len(b))
    buf += b


def write_string(buf: bytearray, s: str) -> None:
    write_bytes(buf, s.encode("utf-8"))


class _Cursor:
    """Byte cursor over one decompressed block payload."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read_varint(self) -> int:
        u, shift = 0, 0
        data = self.data
        while True:
            b = data[self.pos]
            self.pos += 1
            u |= (b & 0x7F) << shift
            if not (b & 0x80):
                return u
            shift += 7

    def read_long(self) -> int:
        return unzigzag(self.read_varint())

    def read_bytes(self) -> bytes:
        n = self.read_long()
        # bounds + sign check (review r13): a corrupt in-payload length
        # varint (negative, or past the buffer) must fail LOUDLY — the
        # unchecked slice returned b'' / a truncated slice and, for a
        # negative n, moved the cursor BACKWARD, re-decoding earlier
        # bytes into garbage rows while the block's sync framing still
        # verified (the class read_segment_file closed in r12)
        if n < 0 or self.pos + n > len(self.data):
            raise ValueError(
                f"avro: corrupt bytes/string length {n} at offset "
                f"{self.pos} (buffer {len(self.data)})")
        out = self.data[self.pos:self.pos + n]
        self.pos += n
        return out

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")


# ------------------------------------------------------------ schema subset
#
# A field codec is (encode(buf, value), decode(cursor) -> value).  The
# record codec is built once per file from the schema JSON; rows then
# stream through plain function calls — no per-value type dispatch.


def _primitive_codec(typ: str):
    if typ in ("long", "int"):
        return (write_long, _Cursor.read_long)
    if typ == "double":
        return (lambda buf, v: buf.__iadd__(struct.pack("<d", v)),
                lambda cur: _read_fixed(cur, 8, "<d"))
    if typ == "float":
        return (lambda buf, v: buf.__iadd__(struct.pack("<f", v)),
                lambda cur: _read_fixed(cur, 4, "<f"))
    if typ == "string":
        return (write_string, _Cursor.read_string)
    if typ == "bytes":
        return (write_bytes, _Cursor.read_bytes)
    if typ == "boolean":
        return (lambda buf, v: buf.append(1 if v else 0),
                lambda cur: _read_bool(cur))
    raise ValueError(f"unsupported avro type: {typ}")


def _read_fixed(cur: _Cursor, n: int, fmt: str):
    v = struct.unpack_from(fmt, cur.data, cur.pos)[0]
    cur.pos += n
    return v


def _read_bool(cur: _Cursor) -> bool:
    b = cur.data[cur.pos]
    cur.pos += 1
    return bool(b)


_TS_LOGICAL = ("timestamp-micros", "local-timestamp-micros")


def _field_codec(ftype):
    """Codec for one field's type node (string, logical-typed dict, or
    ``["null", T]`` union).  Timestamp logical types code as their
    underlying long; the Spark-facing conversion to/from datetime
    happens at the row boundary (see _to_avro_value/_from_avro_value)."""
    if isinstance(ftype, str):
        return _primitive_codec(ftype), False
    if isinstance(ftype, dict):
        if ftype.get("logicalType") in _TS_LOGICAL:
            return _primitive_codec(ftype["type"]), False
        raise ValueError(f"unsupported avro type node: {ftype}")
    if isinstance(ftype, list):  # union — only ["null", T] supported
        if len(ftype) != 2 or "null" not in ftype:
            raise ValueError(f"unsupported union: {ftype}")
        other = ftype[0] if ftype[1] == "null" else ftype[1]
        null_idx = ftype.index("null")
        val_idx = 1 - null_idx
        (enc, dec), _ = _field_codec(other)

        def enc_u(buf, v, enc=enc, null_idx=null_idx, val_idx=val_idx):
            if v is None:
                write_long(buf, null_idx)
            else:
                write_long(buf, val_idx)
                enc(buf, v)

        def dec_u(cur, dec=dec, null_idx=null_idx):
            return None if cur.read_long() == null_idx else dec(cur)

        return (enc_u, dec_u), True
    raise ValueError(f"unsupported avro type node: {ftype}")


def record_codec(schema: dict):
    """(encode_row(buf, row_tuple), decode_row(cursor) -> tuple) for a
    flat record schema."""
    if schema.get("type") != "record":
        raise ValueError("top-level schema must be a record")
    encs, decs = [], []
    for f in schema["fields"]:
        (enc, dec), _ = _field_codec(f["type"])
        encs.append(enc)
        decs.append(dec)

    def encode_row(buf: bytearray, row) -> None:
        for enc, v in zip(encs, row):
            enc(buf, v)

    def decode_row(cur: _Cursor) -> tuple:
        return tuple(dec(cur) for dec in decs)

    return encode_row, decode_row


def _ts_logical_of(ftype) -> str | None:
    """'timestamp-micros' / 'local-timestamp-micros' / None for a field
    type node (unions unwrapped)."""
    if isinstance(ftype, dict):
        lt = ftype.get("logicalType")
        return lt if lt in _TS_LOGICAL else None
    if isinstance(ftype, list):
        for t in ftype:
            if t != "null":
                lt = _ts_logical_of(t)
                if lt:
                    return lt
    return None


def _is_ts_field(ftype) -> bool:
    return _ts_logical_of(ftype) is not None


# ------------------------------------------------------------ container file


def write_avro_file(path: str, schema: dict, rows, codec: str = "deflate",
                    block_rows: int = 4096) -> int:
    """Write an Object Container File; returns the row count.  The sync
    marker is derived from the path (the spec only requires the 16
    bytes to be consistent within the file; a content-free deterministic
    marker keeps output reproducible).  ``rows`` yields tuples in
    schema field order, timestamps already converted to micros."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec: {codec}")
    encode_row, _ = record_codec(schema)
    sync = hashlib.md5(path.encode("utf-8")).digest()
    header = bytearray(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("utf-8")}
    write_long(header, len(meta))
    for k, v in meta.items():
        write_string(header, k)
        write_bytes(header, v)
    write_long(header, 0)  # end of metadata map blocks
    header += sync

    n_total = 0
    with open(path, "wb") as fh:
        fh.write(header)
        block = bytearray()
        n_block = 0

        def flush():
            nonlocal block, n_block, n_total
            if not n_block:
                return
            payload = bytes(block)
            if codec == "deflate":
                co = zlib.compressobj(wbits=-15)
                payload = co.compress(payload) + co.flush()
            frame = bytearray()
            write_long(frame, n_block)
            write_long(frame, len(payload))
            fh.write(bytes(frame) + payload + sync)
            n_total += n_block
            block, n_block = bytearray(), 0

        for row in rows:
            encode_row(block, row)
            n_block += 1
            if n_block >= block_rows:
                flush()
        flush()
    return n_total


def _stream_varint(fh) -> int | None:
    """One zigzag long from a file handle, or None at clean EOF (a byte-
    at-a-time read — negligible next to block decode, and it keeps the
    reader's memory O(block) instead of O(file))."""
    u, shift = 0, 0
    first = True
    while True:
        b = fh.read(1)
        if not b:
            if first:
                return None
            raise ValueError("truncated varint")
        first = False
        u |= (b[0] & 0x7F) << shift
        if not (b[0] & 0x80):
            return unzigzag(u)
        shift += 7


def read_avro_file(path: str):
    """Yield row tuples from an Object Container File (schema subset
    above; null + deflate codecs).  Streams block-by-block — peak memory
    is one compressed + one decompressed block, never the whole file
    (the sink writes one container per FACT partition, so files can be
    multi-GB).  The per-block sync marker is verified — a torn or
    mis-framed file fails loudly, never yields garbage rows."""
    with open(path, "rb") as fh:
        if fh.read(4) != MAGIC:
            raise ValueError(f"not an avro container file: {path}")
        meta = {}
        while True:
            n = _stream_varint(fh)
            if n is None or n == 0:
                break
            if n < 0:  # negative map-block count: byte size follows
                _stream_varint(fh)
                n = -n
            for _ in range(n):
                klen = _stream_varint(fh)
                k = fh.read(klen).decode("utf-8")
                vlen = _stream_varint(fh)
                meta[k] = fh.read(vlen)
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        sync = fh.read(16)
        _, decode_row = record_codec(schema)
        while True:
            n_rows = _stream_varint(fh)
            if n_rows is None:
                return  # clean EOF at a block boundary
            n_bytes = _stream_varint(fh)
            payload = fh.read(n_bytes)
            if len(payload) != n_bytes or fh.read(16) != sync:
                raise ValueError(f"sync marker mismatch in {path}")
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            bcur = _Cursor(payload)
            for _ in range(n_rows):
                yield decode_row(bcur)


def avro_schema_of(path: str) -> dict:
    """Parse just the header's avro.schema (driver-side planning read)."""
    with open(path, "rb") as fh:
        data = fh.read(1 << 20)  # header is tiny; 1 MB is generous
    if data[:4] != MAGIC:
        raise ValueError(f"not an avro container file: {path}")
    cur = _Cursor(data)
    cur.pos = 4
    while True:
        n = cur.read_long()
        if n == 0:
            break
        if n < 0:
            cur.read_long()
            n = -n
        for _ in range(n):
            k = cur.read_string()
            v = cur.read_bytes()
            if k == "avro.schema":
                return json.loads(v)
    raise ValueError(f"no avro.schema in header: {path}")


# ------------------------------------------------------------ Spark sink


_AVRO_TYPES = {"bigint": "long", "long": "long", "int": "int",
               "double": "double", "float": "float", "string": "string",
               "binary": "bytes", "boolean": "boolean"}


def spark_to_avro_schema(df: DataFrame, name: str = "row") -> dict:
    """Flat Spark schema → Avro record schema.  Nullable columns become
    ``["null", T]`` unions; TIMESTAMP_NTZ becomes long +
    local-timestamp-micros (the spec's tz-free timestamp)."""
    fields = []
    for f in df.schema.fields:
        simple = f.dataType.simpleString()
        if simple in ("timestamp_ntz", "timestamp"):
            logical = ("local-timestamp-micros" if simple == "timestamp_ntz"
                       else "timestamp-micros")
            t: object = {"type": "long", "logicalType": logical}
        elif simple in _AVRO_TYPES:
            t = _AVRO_TYPES[simple]
        else:
            raise ValueError(f"no avro mapping for column {f.name}: {simple}")
        fields.append({"name": f.name,
                       "type": ["null", t] if f.nullable else t})
    return {"type": "record", "name": name, "fields": fields}


def write_avro(df: DataFrame, out_dir: str, codec: str = "deflate") -> dict:
    """Distributed Avro sink: each task writes ONE container file for its
    partition, executor-side, tmp+rename published (task-retry-safe: a
    retried task republishes the same partition id and the last rename
    wins — no torn file is ever visible).  No row moves through the
    driver.  Ships the package zip to workers first — the executor
    closure imports this module, and worker PYTHONPATH carries no
    assumptions (same discipline as lstore_log.register; review r9
    reproduced a ModuleNotFoundError without it).  Returns the Avro
    schema used."""
    register(df.sparkSession)
    schema = spark_to_avro_schema(df)
    # (column index, is_tz_aware) per timestamp column.  TIMESTAMP_NTZ
    # (local-timestamp-micros) encodes the naive wall clock directly.
    # TIMESTAMP (timestamp-micros) is UTC-since-epoch per the Avro spec,
    # and PySpark hands the closure tz-NAIVE datetimes rendered in the
    # Python worker's OS-LOCAL time zone (fromtimestamp conversion —
    # NOT spark.sql.session.timeZone, which only governs SQL rendering
    # and literal parsing), so astimezone() — which interprets a naive
    # datetime in the OS zone — recovers the exact UTC instant on any
    # host (review r9: encoding the wall clock as UTC directly was off
    # by the zone offset; pinned by test_tz_aware_timestamp_*).
    ts_cols = [(i, _ts_logical_of(f["type"]) == "timestamp-micros")
               for i, f in enumerate(schema["fields"])
               if _is_ts_field(f["type"])]

    def _write_partition(rows) -> None:
        import datetime as _dt
        import os as _os

        from pyspark import TaskContext

        from lstore_spark.sources.avro_io import write_avro_file

        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        tmp = _os.path.join(out_dir, f".part-{pid:05d}.avro.tmp-{attempt}")
        final = _os.path.join(out_dir, f"part-{pid:05d}.avro")
        epoch_naive = _dt.datetime(1970, 1, 1)
        epoch_utc = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        us = _dt.timedelta(microseconds=1)

        def to_tuples():
            for r in rows:
                t = list(r)
                for i, tz_aware in ts_cols:
                    v = t[i]
                    if v is None:
                        continue
                    if tz_aware:
                        t[i] = (v.astimezone(_dt.timezone.utc)
                                - epoch_utc) // us
                    else:
                        t[i] = (v - epoch_naive) // us
                yield tuple(t)

        write_avro_file(tmp, schema, to_tuples(), codec=codec)
        _os.replace(tmp, final)

    os.makedirs(out_dir, exist_ok=True)
    df.foreachPartition(_write_partition)
    return schema


# ------------------------------------------------------------ Spark source


_SPARK_TYPES = {"long": "bigint", "int": "int", "double": "double",
                "float": "float", "string": "string", "bytes": "binary",
                "boolean": "boolean"}


def _avro_to_ddl(schema: dict) -> str:
    parts = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            t = next(x for x in t if x != "null")
        if isinstance(t, dict) and t.get("logicalType") in _TS_LOGICAL:
            sql = ("timestamp_ntz"
                   if t["logicalType"] == "local-timestamp-micros"
                   else "timestamp")
        else:
            sql = _SPARK_TYPES[t]
        parts.append(f"{f['name']} {sql}")
    return ", ".join(parts)


@dataclass
class _AvroPartition(InputPartition):
    path: str


class AvroSource(DataSource):
    """``spark.read.format("lstore_avro").option("path", dir)`` — one
    input partition per container file; schema inferred driver-side from
    the first file's header (one tiny metadata read, no data scan)."""

    @classmethod
    def name(cls) -> str:
        return "lstore_avro"

    def schema(self) -> str:
        return _avro_to_ddl(avro_schema_of(self._first_file()))

    def _first_file(self) -> str:
        d = self.options["path"]
        files = sorted(f for f in os.listdir(d) if f.endswith(".avro"))
        if not files:
            raise FileNotFoundError(f"no .avro files under {d}")
        return os.path.join(d, files[0])

    def reader(self, schema) -> "AvroReader":
        return AvroReader(self.options["path"])


class AvroReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path

    def partitions(self):
        files = sorted(f for f in os.listdir(self.path)
                       if f.endswith(".avro"))
        # never return [] (review r13, same Python-DataSource quirk
        # lstore_log works around): Spark still schedules one task and
        # hands read() a None partition — the sentinel keeps that task
        # an explicit empty read instead of an AttributeError
        return ([_AvroPartition(os.path.join(self.path, f)) for f in files]
                or [_AvroPartition(None)])

    def read(self, partition):
        import datetime as _dt

        if partition is None or partition.path is None:
            return  # empty-directory sentinel (see partitions())

        from lstore_spark.sources.avro_io import (_is_ts_field,
                                                  _ts_logical_of,
                                                  avro_schema_of,
                                                  read_avro_file)

        schema = avro_schema_of(partition.path)
        # timestamp-micros (tz-aware) longs are UTC instants; Spark
        # expects naive datetimes from a Python source in the worker's
        # OS-LOCAL zone (the mirror of the sink's astimezone encoding),
        # which .astimezone() onto a UTC-aware datetime produces.
        ts_cols = [(i, _ts_logical_of(f["type"]) == "timestamp-micros")
                   for i, f in enumerate(schema["fields"])
                   if _is_ts_field(f["type"])]
        epoch_naive = _dt.datetime(1970, 1, 1)
        epoch_utc = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        for row in read_avro_file(partition.path):
            if ts_cols:
                row = list(row)
                for i, tz_aware in ts_cols:
                    if row[i] is not None:
                        us = _dt.timedelta(microseconds=row[i])
                        row[i] = ((epoch_utc + us).astimezone()
                                  .replace(tzinfo=None)
                                  if tz_aware else epoch_naive + us)
                row = tuple(row)
            yield row


def register(spark: SparkSession) -> None:
    # ship_package memoizes per applicationId (review r13: this rebuilt
    # and re-shipped the zip on every call — twice per roundtrip key —
    # the exact cost lstore_log.register memoized in r12)
    ship_package(spark)
    spark.dataSource.register(AvroSource)


# ------------------------------------------------------------ oracle query


@query(
    "q_source_avro_roundtrip",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events WHERE event_id < 2000
""",
)
def q_source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink+source round-trip — the one mainstream interchange
    format the bundled Spark lacks a DataSource module for, implemented
    from the public Avro 1.12 spec (module docstring above; JVM-interop
    proven in tests/test_avro.py against the bundled avro-1.12.1 jars).
    An event slice flows through the DISTRIBUTED container-file sink
    (one file per partition, executor-side, deflate codec) and back
    through the parallel source; the oracle compares against the
    original parquet, so every field of every record — including the
    local-timestamp-micros logical type and the binary varint/union
    coding — must survive the codec for the hash to match."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 2000)
          .select("event_id", "ts", "user_id", "event_type",
                  "value", "props"))
    out = fresh_scratch_dir("avro", sf_dir)
    write_avro(ev, out, codec="deflate")
    register(spark)
    return (spark.read.format("lstore_avro").option("path", out).load()
            .select("event_id", "ts", "user_id", "event_type",
                    "value", "props"))
