"""Streaming module tests: envelope round-trip, poison routing, the
checkpointed inbox pipeline, and batch/streaming window-agg equality."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_integration_project_spark.operators.quality import RuleSet, positive
from data_integration_project_spark.schemas import TESTDATA
from data_integration_project_spark.streaming import (
    decode_envelope,
    encode_envelope,
    produce_to_inbox,
    run_inbox_pipeline,
    streaming_window_counts,
)
from data_integration_project_spark.streaming.pipeline import ZonePaths


@pytest.fixture()
def zones():
    root = tempfile.mkdtemp(prefix="zones_test_")
    yield ZonePaths(root)
    shutil.rmtree(root, ignore_errors=True)


def test_envelope_roundtrip(spark, sf_small):
    cust = spark.read.schema(TESTDATA["customer"]).parquet(
        f"{sf_small}/customer.parquet"
    )
    enc = encode_envelope(cust, source="csv", entity_type="customer", run_id="r1",
                          order_col="c_custkey")
    dec = decode_envelope(enc, TESTDATA["customer"])
    assert dec.filter("_corrupt").count() == 0
    back = dec.select(*cust.columns)
    assert back.count() == cust.count()
    # typed values survive JSON: keys and doubles match exactly
    a = {r["c_custkey"]: r["c_acctbal"] for r in cust.collect()}
    b = {r["c_custkey"]: r["c_acctbal"] for r in back.collect()}
    assert a == b
    assert dec.select("_source").distinct().collect()[0][0] == "csv"
    assert dec.filter(F.col("_line_no").isNull()).count() == 0


def test_poison_line_routing(spark, zones, sf_small):
    cust = spark.read.schema(TESTDATA["customer"]).parquet(
        f"{sf_small}/customer.parquet"
    ).limit(10)
    produce_to_inbox(cust, zones, entity="customer", source="csv", run_id="r1")
    # inject two poison messages into the inbox (queue-corruption analogue)
    inbox = os.path.join(zones.inbox, "customer")
    with open(os.path.join(inbox, "poison.txt"), "w") as f:
        f.write("this is not json\n{\"source\": \"csv\"}\n")
    counts = run_inbox_pipeline(
        spark, zones, entity="customer", data_schema=TESTDATA["customer"]
    )
    assert counts["clean"] == 10
    poison = spark.read.json(os.path.join(zones.error, "customer_poison"))
    assert poison.count() == 2


def test_inbox_pipeline_validates_and_is_exactly_once(spark, zones, sf_small):
    cust = spark.read.schema(TESTDATA["customer"]).parquet(
        f"{sf_small}/customer.parquet"
    )
    total = cust.count()
    n_bad = cust.filter(~(F.col("c_acctbal") > 0)).count()
    assert 0 < n_bad < total  # fixture has negative balances
    rules = RuleSet("customer").rule(
        "acctbal_positive", positive("c_acctbal"), "c_acctbal must be > 0"
    )
    produce_to_inbox(cust, zones, entity="customer", source="csv", run_id="r1",
                     order_col="c_custkey")
    counts = run_inbox_pipeline(
        spark, zones, entity="customer", data_schema=TESTDATA["customer"],
        validate=rules.validate,
    )
    assert counts == {"clean": total - n_bad, "error": n_bad}
    # drain again with the SAME checkpoint: no new input → no duplicates
    counts2 = run_inbox_pipeline(
        spark, zones, entity="customer", data_schema=TESTDATA["customer"],
        validate=rules.validate,
    )
    assert counts2 == counts
    err = spark.read.parquet(os.path.join(zones.error, "customer"))
    assert err.filter(F.col("_errors") == "c_acctbal must be > 0").count() == n_bad


def test_inbox_pipeline_raises_on_unreadable_zone(spark, zones, sf_small):
    """Only a zone that was never written counts 0: an unreadable part
    file in the clean zone fails the count instead of reading as empty."""
    cust = spark.read.schema(TESTDATA["customer"]).parquet(
        f"{sf_small}/customer.parquet"
    ).limit(10)
    produce_to_inbox(cust, zones, entity="customer", source="csv", run_id="r1")
    clean = os.path.join(zones.clean, "customer")
    os.makedirs(clean)
    with open(os.path.join(clean, "part-00000-garbage.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_inbox_pipeline(
            spark, zones, entity="customer", data_schema=TESTDATA["customer"]
        )


def test_streaming_window_counts_match_batch(spark, sf_small):
    from data_integration_project_spark.sources.registry import (
        convert_nanos,
        load_table,
        physical_read_schema,
    )

    events = load_table(spark, "events", sf_small)
    batch = streaming_window_counts(events, window="1 hour")
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }

    # the file stream source requires a DIRECTORY; stage the single
    # parquet file into one (readonly testdata stays untouched)
    stage_dir = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{sf_small}/events.parquet", os.path.join(stage_dir, "part-0.parquet"))
    stream = convert_nanos(
        spark.readStream.schema(physical_read_schema("events", stage_dir)).parquet(stage_dir),
        "events",
        stage_dir,
    )
    agg = streaming_window_counts(stream, window="1 hour", watermark=None)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected


def test_manifest_sink_replay_idempotent(spark, tmp_path):
    """Replaying a committed batch must be a no-op (manifest already
    present), and uncommitted batch directories must stay invisible to
    the reader."""
    from data_integration_project_spark.streaming.manifest_sink import (
        commit_batch,
        read_manifested,
    )

    out = str(tmp_path / "out")
    df = spark.range(0, 10).withColumnRenamed("id", "v")
    assert commit_batch(df, 0, out) is True
    # replay of the same batch id: skipped, nothing changes
    assert commit_batch(spark.range(50, 99).withColumnRenamed("id", "v"), 0, out) is False
    # a batch written WITHOUT a manifest (crash before commit point)
    df2 = spark.range(10, 15).withColumnRenamed("id", "v")
    import os

    df2.write.parquet(os.path.join(out, "data", "batch=00000007"))
    got, n_batches = read_manifested(spark, out)
    assert n_batches == 1
    assert sorted(r["v"] for r in got.collect()) == list(range(10))


def test_neardup_ingest_replay_idempotent(spark, sf_small):
    """foreachBatch replay contract: re-processing the same micro-batch
    id overwrites its own prior output, so flags and the final rollup
    are replay-invariant (checkpoint-recovery re-delivers the last
    uncommitted batch with the SAME batch_id)."""
    import os
    import tempfile

    from data_integration_project_spark.streaming.neardup import (
        batch_neardup_flags,
        build_band_store,
    )

    docs = spark.read.schema(TESTDATA["documents"]).parquet(
        f"{sf_small}/documents.parquet"
    ).select("doc_id", "text")
    store = build_band_store(docs, "doc_id", "text").localCheckpoint()
    batch = docs.limit(40)

    out = tempfile.mkdtemp(prefix="neardup_replay_")
    target = os.path.join(out, "batch_id=0")
    for _ in range(2):  # deliver batch 0 twice — replay
        batch_neardup_flags(batch, store, "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(target)
    flags = spark.read.parquet(target)
    n = batch.count()
    assert flags.count() == n  # no double-counting after replay
    assert flags.select("doc_id").distinct().count() == n
    # every replayed doc is an exact member of the store → all flagged
    assert flags.agg(F.sum("_neardup")).collect()[0][0] == n


def test_neardup_short_docs_pass(spark):
    """Documents too short to shingle produce no buckets and PASS —
    the gate must not crash or flag them."""
    from data_integration_project_spark.streaming.neardup import (
        batch_neardup_flags,
        build_band_store,
    )

    hist = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    store = build_band_store(hist, "doc_id", "text").localCheckpoint()
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"), (11, "too short")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["_neardup"]
        for r in batch_neardup_flags(batch, store, "doc_id", "text").collect()
    }
    assert rows == {10: 1, 11: 0}


def test_neardup_store_append_makes_ingest_incremental(spark):
    """The ingest LOOP: batch-1 survivors' buckets append to the store,
    so a batch-2 re-crawl of a batch-1-accepted document is flagged —
    the property that makes the gate incremental rather than a
    fixed-history filter. Flagged docs add nothing to the store, and a
    replayed append is absorbed by the distinct."""
    from pyspark.sql import types as T

    from data_integration_project_spark.streaming.neardup import (
        append_accepted_to_store,
        batch_neardup_flags,
        build_band_store,
    )

    empty_store = spark.createDataFrame(
        [], T.StructType([
            T.StructField("_band", T.IntegerType()),
            T.StructField("_bucket", T.StringType()),
        ])
    )
    doc_a = "the quick brown fox jumps over the lazy dog tonight"
    doc_b = "completely different content about spark shuffle partitions"
    b1 = spark.createDataFrame([(1, doc_a)], ["doc_id", "text"])
    f1 = batch_neardup_flags(b1, empty_store, "doc_id", "text")
    assert [r["_neardup"] for r in f1.collect()] == [0]  # empty store: pass
    store1 = append_accepted_to_store(
        empty_store, b1, f1, "doc_id", "text"
    ).localCheckpoint()
    assert store1.count() > 0

    b2 = spark.createDataFrame(
        [(2, doc_a), (3, doc_b)], ["doc_id", "text"]
    )
    f2 = {r["doc_id"]: r["_neardup"]
          for r in batch_neardup_flags(b2, store1, "doc_id", "text").collect()}
    assert f2 == {2: 1, 3: 0}  # re-crawl of accepted doc flagged, novel passes

    # replayed append of the same delta is absorbed (idempotent store)
    store2 = append_accepted_to_store(store1, b1, f1, "doc_id", "text")
    assert store2.count() == store1.count()
    # flagged docs contribute nothing
    f2_df = batch_neardup_flags(b2, store1, "doc_id", "text")
    store3 = append_accepted_to_store(store1, b2, f2_df, "doc_id", "text")
    flagged_buckets = build_band_store(
        b2.filter("doc_id = 2"), "doc_id", "text"
    )
    assert store3.join(
        flagged_buckets, ["_band", "_bucket"], "left_semi"
    ).count() == store1.join(
        flagged_buckets, ["_band", "_bucket"], "left_semi"
    ).count()


def test_neardup_drain_grow_store_flags_cross_batch(spark):
    """run_neardup_ingest(grow_store=True) closes the loop INSIDE the
    drain: batch 2's exact re-crawl of a batch-1-accepted document is
    flagged even though the initial store never saw it; with the
    default grow_store=False the same re-crawl passes (fixed-store
    semantics, the caller owns the append loop)."""
    from data_integration_project_spark.streaming.neardup import (
        build_band_store,
        run_neardup_ingest,
    )

    hist = spark.createDataFrame(
        [(0, "historical corpus document about coffee roasting times")],
        ["doc_id", "text"],
    )
    store = build_band_store(hist, "doc_id", "text").localCheckpoint()
    novel = "fresh network telemetry ingestion pipeline design notes"
    b1 = spark.createDataFrame([(1, novel)], ["doc_id", "text"])
    b2 = spark.createDataFrame(
        [(2, novel), (3, "unrelated gardening soil acidity findings")],
        ["doc_id", "text"],
    )
    for grow, expect in ((True, {1: 0, 2: 1, 3: 0}), (False, {1: 0, 2: 0, 3: 0})):
        root = tempfile.mkdtemp(prefix="neardup_grow_")
        try:
            src = os.path.join(root, "stream")
            b1.coalesce(1).write.parquet(os.path.join(src, "b0"))
            b2.coalesce(1).write.parquet(os.path.join(src, "b1"))
            for i, sub in enumerate(("b0", "b1")):
                d = os.path.join(src, sub)
                for f in os.listdir(d):
                    os.utime(os.path.join(d, f), (1_000_000_000 + i * 10,) * 2)
            incoming = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )
            run_neardup_ingest(
                spark,
                incoming,
                store,
                os.path.join(root, "flags"),
                os.path.join(root, "ckpt"),
                "doc_id",
                "text",
                grow_store=grow,
            )
            got = {
                r["doc_id"]: r["_neardup"]
                for r in spark.read.parquet(os.path.join(root, "flags")).collect()
            }
            assert got == expect, (grow, got)
        finally:
            shutil.rmtree(root, ignore_errors=True)
