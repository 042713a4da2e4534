"""Full-registry scale sweep: time EVERY queries() entry at one sf_dir.

The headline bench (bench.py) covers 32 flagship queries; the decade
sweeps (BASELINE §7.3/§8.3/§9.2) extended those across sf0.1 → sf10 and
caught a real bug every decade.  This tool closes the coverage gap: the
other ~270 registry queries had never been timed at scale.  Run it at
two scale factors and compare ratios; anything far above the ~12x
linear+shuffle bar for a 10x decade is a suspect shape.

    python tools/scale_sweep.py /root/testdata/sf0.1  --json /tmp/sweep_sf01.json
    python tools/scale_sweep.py .scratch/sf1 --json /tmp/sweep_sf1.json
    python tools/scale_sweep.py --compare /tmp/sweep_sf01.json /tmp/sweep_sf1.json

Timing uses the `noop` sink (full computation, no driver collect, no
column pruning of the action the way `count()` can prune).  One rep per
query by default (`--reps N` for best-of-N): the point is shape
detection across a decade, not microbenchmarks.
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def compare(a_path: str, b_path: str, bar: float = 12.0) -> int:
    a = json.load(open(a_path))
    b = json.load(open(b_path))
    rows = []
    for k, ta in a.items():
        tb = b.get(k)
        if tb is None or isinstance(ta, str) or isinstance(tb, str):
            rows.append((float("inf"), k, ta, tb))
            continue
        # fixed-overhead floor: ratios on sub-200ms bases are noise
        ratio = tb / max(ta, 0.2)
        rows.append((ratio, k, ta, tb))
    rows.sort(reverse=True)
    n_over = 0
    for ratio, k, ta, tb in rows:
        flag = " <-- OVER BAR" if ratio > bar else ""
        if ratio > bar:
            n_over += 1
        print(f"{k:45s} {ta if isinstance(ta, str) else f'{ta:7.2f}'} "
              f"{tb if isinstance(tb, str) else f'{tb:7.2f}'} "
              f"{'' if ratio == float('inf') else f'{ratio:5.1f}x'}{flag}")
    print(f"\n{n_over} queries over the {bar}x bar")
    return 0 if n_over == 0 else 1


def main() -> int:
    if "--compare" in sys.argv:
        i = sys.argv.index("--compare")
        return compare(sys.argv[i + 1], sys.argv[i + 2])

    sf_dir = sys.argv[1]
    out_json = None
    if "--json" in sys.argv:
        out_json = sys.argv[sys.argv.index("--json") + 1]
    reps = 1
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

    import __spark_entry__ as entry_mod
    from geowave_spark.session import local_session

    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, float | str] = {}
    queries = entry_mod.queries()
    for name, fn in queries.items():
        if only and name not in only:
            continue
        best = None
        try:
            for _ in range(reps):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            results[name] = round(best, 3)
            print(f"OK   {name}: {best:.2f}s", flush=True)
        except Exception as exc:  # a failure at scale IS the finding
            results[name] = f"ERR {type(exc).__name__}: {str(exc)[:200]}"
            print(f"ERR  {name}: {results[name]}", flush=True)
    if out_json:
        json.dump(results, open(out_json, "w"), indent=1)
        print(f"wrote {out_json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
