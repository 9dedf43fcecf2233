"""Zero-extra-pass pipeline metrics via the Observation API.

A 100 TB cleaning pipeline needs row-count / drop-rate audits at every
stage, but a ``.count()`` per stage re-executes the plan.  ``observed``
attaches named accumulator-backed metrics INSIDE the plan (Spark's
CollectMetrics node): they piggyback on whatever single action the
caller runs next — the audit is free.

    df, obs = observed(docs_kept, "clean",
                       n=F.count(F.lit(1)),
                       kept=F.sum(F.col("keep").cast("long")))
    df.write.parquet(...)          # the one real action
    print(obs.get)                 # {'n': ..., 'kept': ...}

The helper is deliberately thin — the value is the discipline (metrics
ride the action; no second scan), asserted in tests/test_registry.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed(df: DataFrame, name: str,
             **metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach named aggregate metrics to ``df``'s next action.

    Returns (instrumented df, Observation); read ``observation.get``
    AFTER an action has run.  Metrics must be aggregate expressions
    (count/sum/min/max/...) — enforced by Spark at analysis time."""
    obs = Observation(name)
    return df.observe(obs, *[m.alias(k) for k, m in metrics.items()]), obs


def fingerprinted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an observation of its row count ``n`` and the sum
    ``h`` of ``xxhash64`` over every column, summed as ``decimal(38,0)``
    so it cannot overflow — an order-free result fingerprint that rides
    the caller's one action.  Columns are renamed positionally first
    (results may repeat a column name) and map columns, which
    ``xxhash64`` refuses, are hashed through their string form."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    named = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    cols = [F.col(f.name).cast("string") if isinstance(f.dataType, MapType)
            else F.col(f.name) for f in named.schema.fields]
    h = F.xxhash64(*cols).cast("decimal(38,0)") if cols else F.lit(0)
    return observed(named, "fingerprint",
                    n=F.count(F.lit(1)),
                    h=F.sum(h).cast("decimal(38,0)"))
