"""One-pass perf sweep over every registered query.

The headline bench covers 31 queries; regressions in the other ~120
surface only through the seeded 5-query long-tail lane -- this sweep is
the exhaustive version, run ad hoc when hunting (r7 found and fixed 9
stragglers with it: single-task global windows, unstaged multi-consumer
frames, harness columns riding the production aggregate -- the classes
are documented in operators/prefix.py and the round notes).

Usage:
  python scripts/perf_sweep.py [--sf-dir /root/testdata/sf0.1]
      [--threshold 1.5] [--retime 3]

Pass 1 times every query once (cold-ish). Anything over --threshold
seconds is then warm-retimed (--retime runs, median) to strip plan /
Python-worker-pool startup out of the number; pass 1's compiled classes
stay in the session's codegen cache (session.py sizes it above the
registry's ~2.5k classes), so a retime recompiles almost nothing.
Prints one JSON object; single runs on a shared host swing 2-20x (see
bench.py), so treat pass-1 numbers as a screen, the retime medians as
the signal, and A/B any fix interleaved in ONE session.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import force  # noqa: E402
from discogs_xml_to_parquet_spark import registry  # noqa: E402
from discogs_xml_to_parquet_spark.session import get_spark  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--threshold", type=float, default=1.5)
    p.add_argument("--retime", type=int, default=3)
    args = p.parse_args()

    registry.load_all_queries()
    spark = get_spark(app_name="perf-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    first: dict[str, float | str] = {}
    for name in registry.QUERIES:
        t0 = time.perf_counter()
        try:
            force(spark, name, args.sf_dir)
            first[name] = round(time.perf_counter() - t0, 2)
        except Exception as exc:  # noqa: BLE001 -- sweep must finish
            first[name] = f"ERR {str(exc)[:80]}"

    suspects = sorted(
        (n for n, v in first.items()
         if isinstance(v, float) and v > args.threshold),
        key=lambda n: -first[n],  # type: ignore[operator]
    )
    medians: dict[str, float] = {}
    for name in suspects:  # already warm from pass 1
        runs = []
        for _ in range(args.retime):
            t0 = time.perf_counter()
            force(spark, name, args.sf_dir)
            runs.append(time.perf_counter() - t0)
        medians[name] = round(statistics.median(runs), 2)

    print(json.dumps({
        "sf_dir": args.sf_dir,
        "first_pass_over_threshold": {n: first[n] for n in suspects},
        "warm_medians": dict(
            sorted(medians.items(), key=lambda kv: -kv[1])),
        "errors": {n: v for n, v in first.items() if isinstance(v, str)},
    }, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
