"""Event-time tumbling windows: the batch operator behind the
``events_tumbling_windows`` contract query, checked against hand-computed
windows."""

from __future__ import annotations


class TestWindowedWatermark:
    def test_batch_form_matches_manual_windows(self, spark):
        import pandas as pd

        from dsm2dtm_spark.streaming.windowed import windowed_event_counts

        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime(["2026-01-01 00:01", "2026-01-01 00:09", "2026-01-01 00:11"]),
                "event_type": ["a", "a", "a"],
                "value": [1.0, 2.0, 4.0],
            }
        )
        out = {(r.win_start, r.event_type): (r.n, r.sum_value) for r in
               windowed_event_counts(spark.createDataFrame(pdf)).collect()}
        assert out[("2026-01-01 00:00:00", "a")] == (2, 3.0)
        assert out[("2026-01-01 00:10:00", "a")] == (1, 4.0)
