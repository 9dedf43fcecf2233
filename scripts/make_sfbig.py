"""Materialize a synthetic ~sf1 corpus (10× sf0.1) under /tmp/sfbig by
key-shifted replication of every table, preserving referential integrity
(each replica k shifts all join keys by k×stride) and schema — including
events.ts re-encoded as int64 nanos so the catalog reads it identically.

Purpose: run the full oracle sweep at 6M lineitem rows
(`LSTORE_SPARK_TEST_SF=/tmp/sfbig python scripts/check.py`) — the
determinism discipline must hold an order of magnitude past the bench SF.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.environ.get("SFBIG_DIR", "/tmp/sfbig")
K = int(os.environ.get("SFBIG_REPLICAS", "10"))

# key column -> shift stride (past max key at sf0.1)
SHIFTS = {
    "orders": {"o_orderkey": 1_000_000, "o_custkey": 100_000},
    "lineitem": {"l_orderkey": 1_000_000, "l_partkey": 100_000,
                 "l_suppkey": 10_000},
    "customer": {"c_custkey": 100_000},
    "part": {"p_partkey": 100_000},
    "supplier": {"s_suppkey": 10_000},
    "events": {"event_id": 1_000_000, "user_id": 1_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
SMALL = ["region", "nation"]  # fixed dims: copy as-is


def _rewrite_events_ns(path: str) -> None:
    """DuckDB's COPY writes timestamps at µs; the driver's events file is
    TIMESTAMP(NANOS).  Rewrite via pyarrow so Spark/DuckDB read the big
    corpus through exactly the same code paths as the original."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    idx = t.schema.get_field_index("ts")
    t = t.set_column(idx, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, path, version="2.6")


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t in SMALL:
        con.execute(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
                    f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        print(t, "copied")
    for t, shifts in SHIFTS.items():
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()]
        sel = []
        for c in cols:
            if c in shifts:
                sel.append(f"{c} + k.k * {shifts[c]} AS {c}")
            elif t == "events" and c == "ts":
                # keep the parquet TIMESTAMP(NANOS) physical type so both
                # engines read it exactly like the driver-written file
                sel.append("CAST(ts AS TIMESTAMP_NS) AS ts")
            else:
                sel.append(c)
        con.execute(f"""
            COPY (SELECT {', '.join(sel)}
                  FROM '{SRC}/{t}.parquet', range({K}) AS k(k))
            TO '{DST}/{t}.parquet' (FORMAT PARQUET)
        """)
        if t == "events":
            _rewrite_events_ns(f"{DST}/{t}.parquet")
        n = con.execute(f"SELECT COUNT(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
        print(t, "->", n, "rows")
    # scripts/check.py records its results under this label
    with open(f"{DST}/fixture.json", "w") as fh:
        json.dump({"label": f"{os.path.basename(SRC)}x{K}"}, fh)


if __name__ == "__main__":
    main()
