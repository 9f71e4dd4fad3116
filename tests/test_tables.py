"""tables.load reuses a parquet file's schema while the file is
unchanged; a file rewritten at the same path must never be read with
the schema of its previous version."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from discogs_xml_to_parquet_spark.tables import load
from tests.conftest import SF_SMOKE


def test_schema_reuse_sees_a_rewritten_file(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert load(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name"
    ]
    assert load(spark, str(tmp_path), "region").count() == 2  # reused schema
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"],
                  "r_comment": ["x", "y", "z"]}),
        path,
    )
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]


def test_events_nanos_lane_survives_schema_reuse(spark, tmp_path):
    src = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = src.schema.get_field_index("ts")
    nanos = src.set_column(i, "ts", pc.cast(src["ts"], pa.timestamp("ns")))
    pq.write_table(nanos, tmp_path / "events.parquet")
    expected = sorted(
        (r.event_id, r.ts) for r in load(spark, SF_SMOKE, "events").collect()
    )
    for _ in range(2):  # the second load reads with the reused schema
        df = load(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert sorted((r.event_id, r.ts) for r in df.collect()) == expected
