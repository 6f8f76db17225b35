"""Windowed event rollup on static and streaming inputs."""

from __future__ import annotations

from ocrd_odem_spark.streaming import ingest


def test_events_rollup_static(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    roll = ingest.events_rollup(events).collect()
    assert len(roll) > 0
    total = sum(r["n_events"] for r in roll)
    assert total == events.count()
    # windows align to the hour
    assert all(r["window_start"].minute == 0 for r in roll)


def test_events_rollup_streaming_plan(spark):
    """The same rollup compiles as a streaming plan with a watermark."""
    import tempfile

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with tempfile.TemporaryDirectory() as tmp:
        events.write.parquet(f"{tmp}/ev")
        stream = spark.readStream.schema(events.schema).parquet(f"{tmp}/ev")
        rolled = ingest.events_rollup(stream)
        assert rolled.isStreaming
        q = (
            rolled.writeStream.format("memory")
            .queryName("rollup_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ck")
            .start()
        )
        q.awaitTermination(120)
        # append mode emits only below-watermark windows; with availableNow
        # over a finite source nothing may pass the watermark — the plan
        # executing without error is the contract here
        spark.sql("SELECT * FROM rollup_test").collect()
