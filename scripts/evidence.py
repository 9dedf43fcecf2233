"""Generate EVIDENCE.md: per-key freshness of correctness evidence
(VERDICT r11 #8 — with 250+ keys and a ~50-key driver budget a full
driver rotation takes ~5 rounds; staleness should be visible at a
glance, not derived by hand from a dozen CORRECTNESS JSONs).

Sources:
- CORRECTNESS_r*.json  — driver sweeps (latest round + grade per key)
- scripts/selfcheck_ledger.json — local scripts/check.py runs (latest
  round + grade per fixture and key; written automatically by every
  check run)

Usage: python scripts/evidence.py   →  rewrites EVIDENCE.md
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lstore_spark.registry import ORACLE, QUERIES  # noqa: E402


def driver_evidence() -> dict[str, dict]:
    out: dict[str, dict] = {}
    # correctness_files orders by the PARSED round number, not the
    # filename sort: at r100 'r100' sorts lexicographically before 'r99'
    # and a stale grade would overwrite the fresh one (review r13 —
    # one shared locator now, see registry.correctness_files)
    from lstore_spark.registry import correctness_files
    for rnd, path in correctness_files(ROOT):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for k, v in rows.items():
            if not isinstance(v, dict):
                continue
            if v.get("err") and v.get("err") != "no_oracle":
                # a crashed driver run must read as ERR, never as the
                # same grade as a deliberately oracle-less key (r12)
                grade = "ERR"
            elif v.get("err") == "no_oracle" or v.get("rows_match") is None:
                grade = ("rows-only"
                         if v.get("spark_rows") else "rows-only (0 rows)")
            elif v.get("rows_match") and v.get("hash_match"):
                grade = "hash-green"
            else:
                grade = "FAIL"
            out[k] = {"round": rnd, "grade": grade}
    return out


def self_evidence() -> dict[str, dict]:
    """key → fixture label → latest local check record."""
    try:
        with open(os.path.join(ROOT, "scripts",
                               "selfcheck_ledger.json")) as fh:
            ledger = json.load(fh)
    except (OSError, ValueError):
        return {}
    out: dict[str, dict] = {}
    for fixture, records in ledger.items():
        for k, rec in records.items():
            out.setdefault(k, {})[fixture] = rec
    return out


def _fixture_grades(records: dict[str, dict]) -> str:
    return ", ".join(f"{fx} {'pass' if rec['ok'] else 'FAIL'}"
                     for fx, rec in sorted(records.items()))


def main() -> None:
    drv = driver_evidence()
    loc = self_evidence()
    lines = [
        "# EVIDENCE — per-key correctness freshness",
        "",
        "Generated by `python scripts/evidence.py` (do not edit).  For",
        "each registered key: the latest DRIVER sweep that visited it",
        "(round + grade from `CORRECTNESS_r*.json`) and the latest LOCAL",
        "`scripts/check.py` verification per fixture (round + grade from",
        "`scripts/selfcheck_ledger.json`, which every check run appends",
        "to; `unrecorded` holds runs from before the ledger named the",
        "fixture).  'rows-only' keys are approximate/engine-hash-specific by",
        "design and carry pytest floors + hash-green portable twins —",
        "see SURVEY.md §2.10.",
        "",
    ]
    drv_rounds = Counter(drv.get(k, {}).get("round", 0) for k in QUERIES)
    lines.append("Driver-evidence age histogram (round → #keys): "
                 + ", ".join(f"r{r}→{n}" for r, n in
                             sorted(drv_rounds.items())))
    stale = [k for k in QUERIES if drv.get(k, {}).get("round", 0)
             <= max(drv_rounds) - 4]
    lines.append(f"\nKeys whose driver evidence is ≥4 rounds old: "
                 f"**{len(stale)}** (the sweep order fronts exactly "
                 "these — `registry.sweep_order()`).")
    lines += [
        "",
        "| key | oracle | driver round | driver grade | self-check round |"
        " self-check grade by fixture |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    for k in sorted(QUERIES):
        d = drv.get(k)
        s = loc.get(k)
        s_round = max(r["round"] for r in s.values()) if s else None
        lines.append(
            f"| {k} | {'sql' if k in ORACLE else 'rows-only'} "
            f"| {'r' + str(d['round']) if d else '—'} "
            f"| {d['grade'] if d else 'never'} "
            f"| {'r' + str(s_round) if s else '—'} "
            f"| {_fixture_grades(s) if s else 'never'} |")
    with open(os.path.join(ROOT, "EVIDENCE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"EVIDENCE.md: {len(QUERIES)} keys, "
          f"{sum(1 for k in QUERIES if k in drv)} driver-checked, "
          f"{sum(1 for k in QUERIES if k in loc)} self-checked")


if __name__ == "__main__":
    main()
