"""Independent-oracle audit (VERDICT r3 item 2 — the `intdiv` lesson).

The dual-engine gate compares the Spark query against a DuckDB oracle.
For queries whose Spark path executes the SAME SQL text as the oracle
(modulo dialect spellings), both engines can agree on a WRONG value —
the sf1 scale run proved it (`x div p * q` precedence bug passed the
gate 68 times).  This tool classifies every registry query:

- SHARED:      every spark.sql(...) text the query runs normalizes to a
               text that also appears (normalized) in its oracle —
               the gate alone is weak evidence.
- INDEPENDENT: the engine path differs from the oracle (DataFrame API,
               different algorithm, blocking vs brute force, ...) —
               the gate is already a two-implementation agreement.

and cross-references tests/ for a qNNN mention (a third, python/numpy
recompute).  The action list is SHARED ∧ no-test.

Usage: python tools/audit_oracles.py [--json out.json]
"""
from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"


def normalize(sql: str) -> str:
    """Collapse dialect spellings + whitespace so a Spark text and its
    DuckDB twin normalize identically iff they share the generator."""
    s = sql
    s = re.sub(r"epoch_us\s*\(\s*cast\s*\(", "EPOCH(cast(", s, flags=re.I)
    s = re.sub(r"unix_micros\s*\(\s*cast\s*\(", "EPOCH(cast(", s, flags=re.I)
    s = re.sub(r"epoch_us\s*\(", "EPOCH(", s, flags=re.I)
    s = re.sub(r"unix_micros\s*\(", "EPOCH(", s, flags=re.I)
    s = s.replace("//", " div ")
    s = re.sub(r"parquet\.`[^`]*/(\w+)\.parquet`", r"\1", s)
    s = re.sub(r"'[^']*/(\w+)\.parquet'", r"\1", s)
    s = re.sub(r"\bAS MATERIALIZED\b", "AS", s, flags=re.I)
    s = re.sub(r"--[^\n]*", "", s)
    s = re.sub(r"\s+", " ", s).strip().lower()
    return s


def main() -> None:
    import __spark_entry__ as entry
    from geowave_spark.session import local_session

    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry.queries()
    oracles = entry.oracle_sql()

    test_words = set(subprocess.run(
        ["grep", "-rhoE", r"q[0-9]+[a-z_]*", "tests/"],
        capture_output=True, text=True, cwd=ROOT).stdout.split())
    test_prefixes = {w.split("_")[0] for w in test_words}

    real_sql = type(spark).sql
    captured: list[str] = []

    def capture_sql(self, q, *a, **kw):
        captured.append(q)
        return real_sql(self, q, *a, **kw)

    rows = {}
    for name, fn in queries.items():
        captured.clear()
        cls = type(spark)
        cls.sql = capture_sql
        err = None
        try:
            fn(spark, SF)  # build only — no action executed
        except Exception as ex:  # noqa: BLE001
            err = f"{type(ex).__name__}: {ex}"[:200]
        finally:
            cls.sql = real_sql
        oracle = oracles.get(name)
        if oracle is None:
            cls_ = "NO_ORACLE"
        elif err:
            cls_ = "BUILD_ERR"
        elif not captured:
            cls_ = "INDEPENDENT"  # pure DataFrame API path
        else:
            norm_o = normalize(oracle)
            norm_c = [normalize(c) for c in captured]
            # the engine is a shared-text twin iff the oracle text is
            # reassembled from the texts the engine ran: every captured
            # text appears inside the oracle AND the texts cover the
            # oracle's length reasonably (loop queries split the oracle
            # into CTE rounds)
            inside = [c for c in norm_c if c and c in norm_o]
            cover = sum(len(c) for c in set(inside)) / max(len(norm_o), 1)
            if norm_o in norm_c:
                cls_ = "SHARED"
            elif cover >= 0.5 and len(inside) == len(norm_c):
                cls_ = "SHARED_SPLIT"
            elif inside:
                cls_ = "PARTIAL"
            else:
                cls_ = "INDEPENDENT"
        rows[name] = {
            "class": cls_,
            "err": err,
            "has_test": name.split("_")[0] in test_prefixes,
        }

    counts: dict[str, int] = {}
    for r in rows.values():
        counts[r["class"]] = counts.get(r["class"], 0) + 1
    print("CLASS COUNTS:", json.dumps(counts))
    action = [n for n, r in rows.items()
              if r["class"] in ("SHARED", "SHARED_SPLIT") and not r["has_test"]]
    print(f"\nACTION LIST — shared-text twin, no qNNN pytest "
          f"({len(action)}):")
    for n in sorted(action):
        print(" ", n, rows[n]["class"])
    partial = [n for n, r in rows.items() if r["class"] == "PARTIAL"]
    print(f"\nPARTIAL (mixed; judge by hand, {len(partial)}):")
    for n in sorted(partial):
        t = "test" if rows[n]["has_test"] else "NO-test"
        print(" ", n, t)
    errs = [n for n, r in rows.items() if r["err"]]
    if errs:
        print("\nBUILD ERRORS:", errs)
    if "--json" in sys.argv:
        out = sys.argv[sys.argv.index("--json") + 1]
        with open(out, "w") as f:
            json.dump(rows, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
