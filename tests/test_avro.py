"""Avro codec: pure-Python round-trip, JVM interop (the bundled
avro-1.12.1 jars are the spec oracle), and the Spark sink/source path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lstore_spark.sources.avro_io import (avro_schema_of, read_avro_file,
                                          write_avro, write_avro_file)

SCHEMA = {"type": "record", "name": "t", "fields": [
    {"name": "id", "type": "long"},
    {"name": "ts", "type": {"type": "long",
                            "logicalType": "local-timestamp-micros"}},
    {"name": "x", "type": ["null", "double"]},
    {"name": "s", "type": "string"},
    {"name": "b", "type": ["null", "bytes"]},
    {"name": "ok", "type": "boolean"},
]}

ROWS = [
    (1, 1_700_000_000_000_000, 3.14, "héllo", b"\x00\xff", True),
    (-5, 0, None, "", None, False),
    (2**62, -1, -0.0, "x" * 300, b"", True),
    (7, -2**40, float("inf"), "☃\U0001F600", b"\x80" * 17, False),
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_codec_roundtrip(tmp_path, codec):
    """Every supported type — negative/zigzag longs, null unions on both
    branches, non-BMP unicode, empty bytes/strings, inf — survives the
    binary codec under both container codecs, across block boundaries
    (block_rows=2 forces multiple blocks + per-block sync checks)."""
    p = str(tmp_path / f"t_{codec}.avro")
    n = write_avro_file(p, SCHEMA, iter(ROWS), codec=codec, block_rows=2)
    assert n == len(ROWS)
    got = list(read_avro_file(p))
    assert got == ROWS
    assert avro_schema_of(p) == SCHEMA
    # tuple equality can't see the sign of negative zero (-0.0 == 0.0),
    # so pin every float's sign bit explicitly (review r11: a codec
    # normalizing -0.0 to +0.0 passed the equality above)
    import math
    for grow, wrow in zip(got, ROWS):
        for gv, wv in zip(grow, wrow):
            if isinstance(wv, float) and not math.isnan(wv):
                assert math.copysign(1.0, gv) == math.copysign(1.0, wv), \
                    f"float sign lost: {gv!r} vs {wv!r}"


def test_torn_file_fails_loudly(tmp_path):
    """A corrupted block region must raise, never yield garbage rows: the
    per-block sync-marker check catches any mis-framing that corruption
    of the (count, size, payload) region produces."""
    p = str(tmp_path / "t.avro")
    write_avro_file(p, SCHEMA, iter(ROWS), codec="null", block_rows=2)
    data = bytearray(open(p, "rb").read())
    data[len(data) - 40] ^= 0xFF  # flip a byte inside the last region
    open(p, "wb").write(bytes(data))
    with pytest.raises((ValueError, IndexError, UnicodeDecodeError)):
        list(read_avro_file(p))


def test_corrupt_inpayload_length_fails_loudly(tmp_path):
    """review r13: a flipped length varint INSIDE a block (framing and
    sync intact) used to move the cursor backward / slice short and
    yield garbage rows silently — the bounds+sign check in read_bytes
    must raise instead."""
    from lstore_spark.sources.avro_io import _Cursor

    # zigzag -1 length (0x01) followed by payload: must not slice b''
    c = _Cursor(b"\x01abc")
    with pytest.raises(ValueError, match="corrupt bytes/string length"):
        c.read_bytes()
    # overrun length: 10 bytes promised, 3 present
    c = _Cursor(b"\x14abc")
    with pytest.raises(ValueError, match="corrupt bytes/string length"):
        c.read_bytes()


def test_empty_dir_reads_as_zero_rows(spark, tmp_path):
    """review r13: a user-supplied schema skips schema()/_first_file, so
    an .avro-less directory reaches read() as Spark's None-partition
    quirk — the reader must return an empty result, not crash on
    partition.path."""
    import os

    from lstore_spark.sources.avro_io import register

    d = str(tmp_path / "empty")
    os.makedirs(d)
    register(spark)
    got = (spark.read.format("lstore_avro")
           .schema("event_id bigint, name string")
           .option("path", d).load())
    assert got.count() == 0


def test_jvm_reads_our_files(spark, tmp_path):
    """Spec compliance, not self-consistency: the BUNDLED JVM
    DataFileReader (avro-1.12.1) must parse a file written by the
    pure-Python codec — magic, metadata map, deflate framing, zigzag
    varints, union branch indexes, utf8."""
    jvm = spark._jvm
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "id", "type": "long"},
        {"name": "x", "type": ["null", "double"]},
        {"name": "s", "type": "string"}]}
    rows = [(1, 2.5, "a"), (2, None, "bé"), (-3, -1.0, "c" * 100)]
    p = str(tmp_path / "py.avro")
    write_avro_file(p, schema, iter(rows), codec="deflate")
    rd = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader())
    got = []
    while rd.hasNext():
        rec = rd.next()
        got.append((rec.get("id"), rec.get("x"), str(rec.get("s"))))
    rd.close()
    assert got == rows


def test_we_read_jvm_files(spark, tmp_path):
    """Reader compliance in the other direction: a container file written
    by the JVM library (deflate codec, its own random sync markers and
    block sizing) decodes to the exact rows."""
    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(
        '{"type":"record","name":"t","fields":['
        '{"name":"id","type":"long"},{"name":"s","type":"string"}]}')
    wr = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch))
    wr.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    p = str(tmp_path / "jvm.avro")
    wr.create(sch, jvm.java.io.File(p))
    for i in range(5):
        rec = jvm.org.apache.avro.generic.GenericData.Record(sch)
        rec.put("id", i)
        rec.put("s", f"row{i}")
        wr.append(rec)
    wr.close()
    assert list(read_avro_file(p)) == [(i, f"row{i}") for i in range(5)]


def test_spark_roundtrip_with_nulls(spark, tmp_path):
    """The distributed sink + source preserve nullable columns exactly —
    including rows where the nullable double/string ARE null (the
    fixture has no nulls, so the union null branch needs its own pin)."""
    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, None, None), (3, -0.5, "c")],
        "id bigint, x double, s string").repartition(2)
    out = str(tmp_path / "avro_nulls")
    write_avro(df, out)
    from lstore_spark.sources.avro_io import register
    register(spark)
    back = spark.read.format("lstore_avro").option("path", out).load()
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_roundtrip_matches_parquet(spark, sf_dir):
    """q_source_avro_roundtrip equals the raw parquet slice field-for-
    field — timestamps (local-timestamp-micros) included."""
    from lstore_spark.catalog import load_table
    from lstore_spark.registry import QUERIES

    got = QUERIES["q_source_avro_roundtrip"](spark, sf_dir)
    want = (load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < 2000)
            .select("event_id", "ts", "user_id", "event_type",
                    "value", "props"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_tz_aware_timestamp_encodes_utc_micros(spark, tmp_path):
    """TIMESTAMP (tz-aware, Avro timestamp-micros) must land in the file
    as UTC-since-epoch (review r9: encoding the closure's naive wall
    clock as UTC directly was off by the zone offset for any external
    consumer; PySpark hands closures naive datetimes in the worker's
    OS-local zone, recovered via astimezone()).  A non-UTC SESSION zone
    exercises the literal-parsing path too: noon parsed under
    America/New_York (UTC−4 on this date) must store as 16:00 UTC.
    Pins the raw stored long AND the Spark-level round-trip."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        df = spark.createDataFrame(
            [(1, "2024-06-01 12:00:00")], "id bigint, s string"
        ).select("id", F.col("s").cast("timestamp").alias("ts"))
        out = str(tmp_path / "avro_tz")
        write_avro(df, out)
        import glob

        from lstore_spark.sources.avro_io import register
        (_, raw_us), = [r for f in sorted(glob.glob(out + "/*.avro"))
                        for r in read_avro_file(f)]
        # noon New York summer time = 16:00 UTC
        assert raw_us == 1717257600000000, raw_us
        register(spark)
        back = (spark.read.format("lstore_avro")
                .option("path", out).load())
        assert back.schema["ts"].dataType.simpleString() == "timestamp"
        assert [tuple(r) for r in back.collect()] == \
            [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set(key, old)


def test_avro_reads_under_the_lstore_log_pushdown_conf(spark, tmp_path):
    """``lstore_log.register`` turns Python filter pushdown on for the
    whole session.  The Avro source's reader has no ``pushFilters``, so
    it must still plan and read exactly, with and without a filter."""
    from lstore_spark.sources import avro_io, lstore_log

    d = tmp_path / "avro"
    d.mkdir()
    write_avro_file(str(d / "a.avro"), SCHEMA, iter(ROWS[:2]), codec="null")
    write_avro_file(str(d / "b.avro"), SCHEMA, iter(ROWS[2:]), codec="null")
    lstore_log.register(spark)
    avro_io.register(spark)
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    df = spark.read.format("lstore_avro").option("path", str(d)).load()
    assert sorted(r.id for r in df.select("id").collect()) \
        == sorted(r[0] for r in ROWS)
    assert sorted(r.s for r in df.filter(F.col("id") > 1)
                  .select("s").collect()) \
        == sorted(r[3] for r in ROWS if r[0] > 1)
