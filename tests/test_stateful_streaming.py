"""applyInPandasWithState error-burst detector: cross-micro-batch state
(a burst split across two files must still alert exactly once)."""

from __future__ import annotations

import json

from k8s_log_etl_spark.streaming import stateful


def _event(user, ts, etype="error"):
    return json.dumps({"user_id": user, "ts": ts, "event_type": etype})


def test_error_burst_alerts_across_batches(spark, tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    # user 1: burst of 3 split across two files -> one alert
    # user 2: only 2 errors -> no alert
    # user 3: 4 errors in one burst -> one alert (not two)
    (d / "a.jsonl").write_text(
        "\n".join(
            [
                _event(1, "2024-01-01T10:00:00"),
                _event(1, "2024-01-01T10:01:00"),
                _event(2, "2024-01-01T10:00:00"),
                _event(3, "2024-01-01T10:00:00"),
                _event(3, "2024-01-01T10:00:30"),
                _event(3, "2024-01-01T10:01:00"),
                _event(3, "2024-01-01T10:01:30"),
                _event(9, "2024-01-01T10:00:00", "purchase"),
            ]
        )
    )
    (d / "b.jsonl").write_text(
        "\n".join([_event(1, "2024-01-01T10:02:00"), _event(2, "2024-01-01T10:02:00")])
    )

    events = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("user_id long, ts timestamp, event_type string")
        .json(str(d))
    )
    alerts = stateful.error_burst_alerts(events)
    q = (
        alerts.writeStream.format("memory")
        .queryName("burst_alerts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow ends once the input is consumed: the operator's
    # event-time timeout schedules no further batches.
    assert q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM burst_alerts").collect()
    got = sorted((r["user_id"], r["n_errors"]) for r in rows)
    assert got == [(1, 3), (3, 3)]
