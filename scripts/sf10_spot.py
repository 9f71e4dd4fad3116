"""Run the sf10 (100x) spot lane out of band and commit its run of
record (VERDICT r12 item 4).

    python scripts/sf10_spot.py            # full lane, 2 passes
    SPARK_GRAFT_SF10_PASSES=1 python scripts/sf10_spot.py

Why out of band: the corpus build (100 id-offset shards of the bench
tables) plus triple-interleaved measured passes (each query at 100x,
10x, and 1x back-to-back under the same conditions) cost tens of
minutes -- far past the driver's per-round bench budget. The result
lands at bench_records/SF10_SPOT.json, the committed run of record
for the second-decade curve; bench.py does not read it. Commit the
record."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import _run_sf10_lane  # noqa: E402
from discogs_xml_to_parquet_spark import registry  # noqa: E402
from discogs_xml_to_parquet_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    passes = int(os.environ.get("SPARK_GRAFT_SF10_PASSES", "2"))
    registry.load_all_queries()
    spark = get_spark(app_name="sf10_spot")
    spark.sparkContext.setLogLevel("ERROR")
    spot = _run_sf10_lane(spark, sf_dir, sf, passes=passes)
    rec = REPO / "bench_records" / "SF10_SPOT.json"
    rec.parent.mkdir(exist_ok=True)
    rec.write_text(json.dumps(spot, indent=1) + "\n")
    print(json.dumps({
        "record": str(rec),
        "decade1_x": spot["decade1_x"],
        "decade2_x": spot["decade2_x"],
        "compound_x": spot["compound_x"],
        "passes": spot["passes"],
        "over_budget": spot["over_budget"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
