"""The stream kit (plans/stream_kit.py): every memory-sink drain leaves no
stream and no view behind, a failing stream is stopped and its error
reaches the caller, staged replays arrive one file per trigger in order,
and the kit's fragments are written once."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from data_integration_project_spark import plans
from data_integration_project_spark.plans.stream_kit import drain, staged_replay

PLANS = pathlib.Path(plans.__file__).parent

DRAINED = [
    "events_streaming_sessions",
    "events_stream_stream_join",
    "events_stream_stream_left_join",
    "events_streaming_dedup",
    "events_stateful_user_totals",
    "events_stream_static_join",
    "events_streaming_kll_state",
    "events_stream_dedup_watermark",
    "events_stream_stream_full_join",
    "events_streaming_dedup_sessions",
    "events_streaming_late_drop",
    "events_streaming_hll_state",
    "events_streaming_state_ttl",
    "sensors_streaming_source",
]


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_drained_queries_leave_no_view_or_stream(spark, sf_small):
    before = _views(spark)
    for name in DRAINED:
        assert plans.REGISTRY[name].fn(spark, sf_small).collect(), name
    assert _views(spark) - before == set()
    assert spark.streams.active == []


@pytest.mark.parametrize("available_now", [True, False])
def test_failing_stream_is_stopped_and_raises(spark, available_now):
    before = _views(spark)
    src = staged_replay(spark, [spark.range(3)])
    failing = src.select(F.raise_error(F.concat(F.lit("boom "), F.col("id"))))
    with pytest.raises(StreamingQueryException, match="boom"):
        drain(failing, "append", available_now=available_now)
    assert spark.streams.active == []
    assert _views(spark) - before == set()


def test_staged_files_arrive_one_per_trigger_in_order(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    fixture = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"tag": ["a", "a"], "n": [1, 2]}), fixture)
    tagged = lambda tag: spark.range(2).select(
        F.lit(tag).alias("tag"), F.col("id").alias("n")
    )
    src = staged_replay(spark, [fixture, tagged("b"), tagged("c"), tagged("d")])
    seen = []
    q = (
        src.writeStream.foreachBatch(
            lambda df, batch_id: seen.append(
                (batch_id, sorted({r.tag for r in df.collect()}))
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen == [(0, ["a"]), (1, ["b"]), (2, ["c"]), (3, ["d"])]


@pytest.mark.parametrize(
    "fragment",
    ['format("memory")', "pathGlobFilter", "os.utime(", 'withWatermark("purchase_ts"'],
)
def test_fragment_written_once(fragment):
    hits = [
        p.name
        for p in sorted(PLANS.rglob("*.py"))
        for _ in range(p.read_text().count(fragment))
    ]
    assert hits == ["stream_kit.py"], hits
