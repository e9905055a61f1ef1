"""JSON-lines source (PERMISSIVE → S26 error budget) and the watermarked
stream-stream join (streaming twin of the batch attribution queries)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from xeloader_spark.catalog import load_table
from xeloader_spark.operators.ingest import IngestConfig, split_by_error_budget
from xeloader_spark.sources.json_events import read_json_events
from xeloader_spark.streaming import ingest_stream as st
from xeloader_spark.streaming.stream_join import (
    click_purchase_join,
    start_click_purchase_join,
)


def _line(event_id, event_type="click", user_id=1, value=1.5):
    return json.dumps(
        {
            "event_id": event_id,
            "ts": "2024-01-01T00:00:00.000Z",
            "user_id": user_id,
            "event_type": event_type,
            "value": value,
            "props": "{}",
        }
    )


class TestJsonEventsSource:
    def test_permissive_flags_and_budget(self, spark, tmp_path):
        good_file = tmp_path / "sess_0_1.json"
        bad_file = tmp_path / "sess_0_2.json"
        good_file.write_text(
            "\n".join([_line(1), _line(2), "{not json", _line(3)]) + "\n"
        )
        bad_file.write_text(
            "\n".join([_line(10), "garbage", "%%%", "also-bad"]) + "\n"
        )

        df = read_json_events(spark, str(tmp_path), path_glob="*.json")
        assert "e_is_error" in df.columns and "e_source_file" in df.columns
        # 8 lines total, 4 parse errors
        assert df.count() == 8
        # diagnostics column carries the raw failed line (read alongside
        # data columns — the corrupt-only-scan restriction doesn't apply)
        raw_bad = [
            r.e_corrupt_record
            for r in df.collect()
            if r.e_corrupt_record is not None
        ]
        assert "garbage" in raw_bad
        assert df.agg(F.sum("e_is_error")).collect()[0][0] == 4

        good, report = split_by_error_budget(
            df, IngestConfig(max_errors_per_file=2)
        )
        rep = {r.e_source_file.split("/")[-1]: r for r in report}
        assert not rep["sess_0_1.json"].aborted  # 1 error < budget 2
        assert rep["sess_0_2.json"].aborted  # 3 errors >= budget
        ids = sorted(r.event_id for r in good.collect())
        assert ids == [1, 2, 3]  # aborted file contributes nothing

    def test_schema_is_explicit_no_inference(self, spark, tmp_path):
        f = tmp_path / "e.json"
        # extra unknown field must be dropped, not widen the schema
        f.write_text(
            json.dumps(
                {
                    "event_id": 1,
                    "ts": "2024-01-01T00:00:00Z",
                    "user_id": 2,
                    "event_type": "view",
                    "value": 0.5,
                    "props": "{}",
                    "rogue_column": "x",
                }
            )
            + "\n"
        )
        df = read_json_events(spark, str(tmp_path))
        assert "rogue_column" not in df.columns
        row = df.collect()[0]
        assert row.event_id == 1 and row.e_is_error == 0


class TestStreamStreamJoin:
    def test_stream_matches_batch(self, spark, sf_dir, tmp_path):
        ev = load_table(spark, sf_dir, "events")
        batch = click_purchase_join(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
            window_seconds=1800,
        )
        batch_keys = {
            (r.click_id, r.purchase_id) for r in batch.collect()
        }
        assert batch_keys  # fixture must actually produce matches

        root = str(tmp_path / "in")
        ev.coalesce(2).write.mode("overwrite").parquet(root)
        q = start_click_purchase_join(
            st.read_event_stream(spark, root),
            str(tmp_path / "ckpt"),
            window_seconds=1800,
            queryName="cp_join_t",
        )
        q.awaitTermination(180)
        stream_keys = {
            (r.click_id, r.purchase_id)
            for r in spark.sql("select * from cp_join_t").collect()
        }
        assert stream_keys == batch_keys

    def test_join_state_is_time_bounded(self, spark, sf_dir):
        """The streaming plan must carry watermarks on both sides — the
        precondition for state expiry in a stream-stream join."""
        ev = load_table(spark, sf_dir, "events")
        # batch plan sanity: the same function works unstreamed
        out = click_purchase_join(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )
        assert out.columns == [
            "user_id",
            "click_id",
            "click_ts",
            "purchase_id",
            "purchase_ts",
            "value",
        ]
