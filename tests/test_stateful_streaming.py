"""applyInPandasWithState operators: per-key state must accumulate
across micro-batches AND across query restarts (checkpointed state
store), and the streaming sketch states must equal their batch
sketches under any batching."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest



@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="stateful_")
    paths = {
        "in": os.path.join(root, "in"),
        "out": os.path.join(root, "out"),
        "ckpt": os.path.join(root, "ckpt"),
    }
    os.makedirs(paths["in"])
    yield paths
    shutil.rmtree(root, ignore_errors=True)


def _drain(spark, paths, op):
    stream = spark.readStream.schema("user_id long, value double").json(paths["in"])

    def sink(batch, batch_id):
        if batch.count():
            batch.write.mode("append").parquet(paths["out"])

    q = (
        op(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", paths["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _user_totals(stream):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from data_integration_project_spark.plans.events_q import _user_totals_state_fn

    return stream.groupBy("user_id").applyInPandasWithState(
        _user_totals_state_fn,
        "user_id long, n_events long, total_cents long",
        "n long, cents long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def test_state_survives_restart(spark, dirs):
    """events_stateful_user_totals' state function keeps its totals
    across a query restart on the same checkpoint."""
    with open(os.path.join(dirs["in"], "a.json"), "w") as f:
        f.write('{"user_id": 1, "value": 10.0}\n')
        f.write('{"user_id": 1, "value": 5.0}\n')
        f.write('{"user_id": 2, "value": 1.0}\n')
    _drain(spark, dirs, _user_totals)

    # second file, NEW query run, SAME checkpoint → state must carry over
    with open(os.path.join(dirs["in"], "b.json"), "w") as f:
        f.write('{"user_id": 1, "value": 2.5}\n')
    _drain(spark, dirs, _user_totals)

    out = spark.read.parquet(dirs["out"])
    latest = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in out.orderBy("n_events").collect()  # last write wins per user
    }
    assert latest[1] == (3, 1750)  # 2 events from batch A + 1 from batch B
    assert latest[2] == (1, 100)


def test_streaming_kll_state_equals_batch_sketch(spark, dirs):
    """Batching invariance of the level-sampling sketch state: drain
    the same rows as THREE micro-batches (maxFilesPerTrigger=1) and
    the final per-key state must equal the single-pass batch sketch —
    level, retained sums, and every quantile estimate."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from data_integration_project_spark.operators.sketch import hll_hash
    from data_integration_project_spark.plans.events_q import (
        _EKLL_CAP,
        _kll_state_fn,
    )

    # 3 files x 200 rows, two keys with different densities
    rows = [
        {"event_type": "hot" if i % 10 else "rare", "event_id": i,
         "value": (i * 37 % 1000) / 4.0}
        for i in range(600)
    ]
    for part in range(3):
        with open(os.path.join(dirs["in"], f"p{part}.json"), "w") as f:
            for r in rows[part * 200:(part + 1) * 200]:
                f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("event_type string, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(dirs["in"])
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
            F.col("event_id").alias("id"),
            hll_hash(F.col("event_id")).alias("h"),
        )
    )
    out_schema = (
        "event_type string, level int, n_seen long, n_retained long, "
        "ret_v_sum long, ret_id_sum long, p50_cents long, p90_cents long, "
        "p99_cents long"
    )
    state_schema = (
        "lv int, n_seen long, vs array<long>, ids array<long>, hs array<long>"
    )
    staged = stream.groupBy("event_type").applyInPandasWithState(
        _kll_state_fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )

    def sink(batch, batch_id):
        if batch.count():
            batch.write.mode("append").parquet(dirs["out"])

    q = (
        staged.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_type"]: r.asDict()
        for r in spark.read.parquet(dirs["out"])
        .orderBy(F.desc("n_seen"))
        .dropDuplicates(["event_type"])
        .collect()
    }
    assert got["hot"]["n_seen"] == 540 and got["rare"]["n_seen"] == 60

    # single-pass reference with the identical rules, driven in python
    import hashlib

    def href(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    for key in ("hot", "rare"):
        items = [
            (int((r["value"] * 100) + 0.5), r["event_id"], href(r["event_id"]))
            for r in rows
            if r["event_type"] == key
        ]
        lv = 0
        while sum(1 for *_, h in items if h % (1 << lv) == 0) > _EKLL_CAP:
            lv += 1
        kept = [(v, i) for v, i, h in items if h % (1 << lv) == 0]
        kept.sort()
        n = len(kept)

        def est(num, den):
            return kept[max(1, (num * n + den - 1) // den) - 1][0]

        g = got[key]
        assert g["level"] == lv and g["n_retained"] == n, key
        assert g["ret_v_sum"] == sum(v for v, _ in kept), key
        assert g["ret_id_sum"] == sum(i for _, i in kept), key
        assert (g["p50_cents"], g["p90_cents"], g["p99_cents"]) == (
            est(1, 2), est(9, 10), est(99, 100),
        ), key
    # the rare key (60 < capacity) must have stayed exact at level 0
    assert got["rare"]["level"] == 0 and got["rare"]["n_retained"] == 60
    assert got["hot"]["level"] >= 1


def test_streaming_hll_state_equals_batch_sketch(spark, dirs):
    """Batching invariance of the HLL register state: drain the same
    rows as THREE micro-batches (maxFilesPerTrigger=1) and the final
    per-key state must equal the single-pass batch sketch — registers
    enter via max, so any batching converges to the same s_scaled and
    estimate."""
    import hashlib
    import json
    import math
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from data_integration_project_spark.operators.sketch import (
        hll_constants,
        hll_hash,
    )
    from data_integration_project_spark.plans.events_q import _hll_state_fn

    rows = [
        {"event_type": "hot" if i % 10 else "rare", "user_id": i % 97}
        for i in range(600)
    ]
    for part in range(3):
        with open(os.path.join(dirs["in"], f"p{part}.json"), "w") as f:
            for r in rows[part * 200:(part + 1) * 200]:
                f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(dirs["in"])
        .select("event_type", hll_hash(F.col("user_id")).alias("hv"))
    )
    staged = stream.groupBy("event_type").applyInPandasWithState(
        _hll_state_fn,
        "event_type string, m int, n_empty int, s_scaled long, "
        "n_estimate long, n_seen long",
        "regs array<int>, n_seen long",
        "update",
        GroupStateTimeout.NoTimeout,
    )

    def sink(batch, batch_id):
        if batch.count():
            batch.write.mode("append").parquet(dirs["out"])

    q = (
        staged.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_type"]: r.asDict()
        for r in spark.read.parquet(dirs["out"])
        .orderBy(F.desc("n_seen"))
        .dropDuplicates(["event_type"])
        .collect()
    }
    assert got["hot"]["n_seen"] == 540 and got["rare"]["n_seen"] == 60

    # single-pass python reference with the identical rules
    m = 64
    _, k_max, scaled_alpha = hll_constants(m)
    for key in ("hot", "rare"):
        regs = [0] * m
        for r in rows:
            if r["event_type"] != key:
                continue
            hv = int(hashlib.md5(str(r["user_id"]).encode()).hexdigest()[:8], 16)
            w = hv // m
            rank = k_max if w == 0 else k_max - w.bit_length()
            regs[hv % m] = max(regs[hv % m], rank)
        s = sum(1 << (k_max - v) for v in regs)
        assert got[key]["s_scaled"] == s
        assert got[key]["n_empty"] == sum(1 for v in regs if v == 0)
        assert got[key]["n_estimate"] == math.floor(scaled_alpha / s)
