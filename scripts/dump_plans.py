"""Dump each key's `.explain("formatted")` plan with session counters
normalised, so two trees' dumps compare with a plain `diff -r`.

Usage: python scripts/dump_plans.py <out_dir> <suffix> [key ...]
Writes <out_dir>/<key>_<suffix>.txt for every given key (all registered
keys when none are given), planned at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1).  `lstore_spark` is imported from $PYTHONPATH
when it is set there, else from this script's checkout; so one copy of
the script dumps any tree, run from one directory outside every tree
(Python workers put their cwd first on `sys.path`, so from inside a
checkout the tasks of a key that runs jobs while planning import that
checkout's package, whatever $PYTHONPATH says):

    cd <neutral dir>
    PYTHONPATH=<tree> python <checkout>/scripts/dump_plans.py <out_dir> <suffix>

Normalised: expression ids (`#123`, `#123L`), `plan_id=`, RDD ids
(`MapPartitionsRDD[23]`), the numbered lambda variables of Python
lambdas in `F.filter`/`F.transform` (`lambda x_9`) and the per-process
`_p<pid>` suffix of scratch tables and dirs.  These count objects the session has created
so far, so they differ between runs of identical plans.  Exchange
ordering by expression-id hashing can still make a plan depend on
session history; dump such a key alone in a fresh session.
"""

from __future__ import annotations

import os
import re
import sys

# appended, not prepended: a PYTHONPATH tree wins over this checkout
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lstore_spark.registry import QUERIES  # noqa: E402
from lstore_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_COUNTERS = (
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(lambda [A-Za-z]+)_\d+\b"), r"\1_N"),
    (re.compile(r"_p\d+\b"), "_pPID"),
)


def normalise(plan: str) -> str:
    for pat, repl in _COUNTERS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    out_dir, suffix, *keys = sys.argv[1:]
    keys = keys or list(QUERIES)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        df = QUERIES[key](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {key} — explain(formatted) at {SF_DIR}\n")
            f.write(normalise(plan))
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
