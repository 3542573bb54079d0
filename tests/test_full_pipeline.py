"""RUN_ALL_STEPS-equivalent end-to-end test: a directory of dirty
entity CSVs goes through discovery → envelope inbox → checkpointed
drain → transform → validate → clean/error zones → merged-view marts,
and every planted defect lands where it should."""

from __future__ import annotations

import os
import shutil
import tempfile
import types
import warnings

import pytest
from pyspark.sql import functions as F

from data_integration_project_spark import pipeline
from data_integration_project_spark.operators.entity_rules import ruleset_for
from data_integration_project_spark.pipeline import (
    ZonePaths,
    drain_and_validate,
    ingest_csv_dir,
    run_full_pipeline,
)
from data_integration_project_spark.session import CODEGEN_CACHE_ENTRIES
from data_integration_project_spark.streaming.envelope import JSON_TIMESTAMP_FORMAT

_CSVS = {
    "khachhang.csv": [
        "id,ho_ten,sdt,thanh_pho,email",
        "1,An Nguyen,0912345678,Ha Noi,an@example.vn",
        "1,An Nguyen,0912345678,Ha Noi,an@example.vn",  # duplicate id
        "2,Binh9 Tran,0987654321,Da Nang,binh@example.vn",  # digit in name
        "3,Chi Le,123,Hue,chi@example.vn",  # short phone
        "4,Dung Pham,0911222333,Hue,dung@",  # bad email
        "9,Broken",  # too few columns → malformed, dropped at ingest
    ],
    "loaisanpham.csv": [
        "id,ten_loai,mo_ta",
        "1,An sang,Breakfast",
        "2,Do uong,Drinks",
        "3,,Empty name",  # blank name → error
    ],
    "tensanpham.csv": [
        "id,ten_san_pham,gia,loai",
        "1,Pho Bo,45000,An sang",
        "2,Ca Phe,abc,Do uong",  # unparseable price → 0 → error
        "3,Tra Da,-5,Do uong",  # negative price → error
    ],
    "nguyenlieu.csv": [
        "id,ten_nguyen_lieu,so_luong,don_vi,gia,ngay_nhap",
        "1,Ca phe hat,25,kg,180000,2024-01-03",
        "2,Sua,10,ban,22000,2024-01-03",  # unknown unit → error
    ],
    "dathang.csv": [
        "id,khach_hang_id,mon_id,so_luong,ngay_dat,trang_thai",
        "1,1,1,2,2024-01-05,NEW",
        "2,1,1,0,2024-01-06,DONE",  # qty 0 → error
        "3,1,1,1,2024-01-07,MAYBE",  # unknown status → error
    ],
}


@pytest.fixture()
def pipeline_dirs(request):
    csvs = getattr(request, "param", _CSVS)
    root = tempfile.mkdtemp(prefix="full_pipe_")
    data = os.path.join(root, "data")
    os.makedirs(data)
    for name, lines in csvs.items():
        with open(os.path.join(data, name), "w", encoding="utf-8-sig") as f:
            f.write("\n".join(lines) + "\n")
    yield root, data
    shutil.rmtree(root, ignore_errors=True)


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM (cache hits do not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _assert_zones_match_disk(spark, run):
    """The write-counted zone counts equal the rows on disk, and the
    schema the marts read a clean zone with is the one parquet infers."""
    for entity, counts in run.zone_counts.items():
        on_disk = {
            zone: spark.read.parquet(os.path.join(getattr(run.zones, zone), entity)).count()
            for zone in ("clean", "error")
        }
        assert counts == on_disk, entity
        inferred = spark.read.parquet(os.path.join(run.zones.clean, entity)).schema
        assert pipeline._clean_schema(spark, entity) == inferred, entity


# first in this file: the first pipeline run of the file compiles cold
def test_second_run_reuses_generated_classes(spark, pipeline_dirs):
    """A second batch in one session finds the first batch's generated
    classes in Spark's codegen cache instead of compiling them again.
    No clock value is inlined into a batch's generated code (the
    envelope's extract time, the transforms' extract_time and the
    history's recorded_at are held by reference), so none is left to
    compile."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    root, data = pipeline_dirs
    compiled = []
    for run_id in ("cg1", "cg2"):
        before = _compilations(spark)
        run_full_pipeline(spark, data, os.path.join(root, "out"), run_id=run_id)
        compiled.append(_compilations(spark) - before)
    assert compiled[1] * 3 <= compiled[0], compiled
    assert compiled[1] <= 2, compiled


def test_clean_rows_keep_the_envelope_extract_time(spark, pipeline_dirs):
    """Every entity's clean-zone extract_time is the one its envelope
    carried in the inbox, matched by line number."""
    root, data = pipeline_dirs
    run = run_full_pipeline(spark, data, os.path.join(root, "out"), run_id="et")
    for entity in run.zone_counts:
        inbox = spark.read.text(os.path.join(run.zones.inbox, entity)).select(
            F.get_json_object("value", "$.metadata.line_no").cast("long").alias("_line_no"),
            F.get_json_object("value", "$.metadata.extract_time").alias("sent"),
        )
        clean = spark.read.parquet(os.path.join(run.zones.clean, entity)).select(
            "_line_no",
            F.date_format("extract_time", JSON_TIMESTAMP_FORMAT).alias("landed"),
        )
        rows = clean.join(inbox, "_line_no", "left").collect()
        assert rows, entity
        assert all(r["sent"] is not None and r["landed"] == r["sent"] for r in rows), (entity, rows)


def test_run_full_pipeline(spark, pipeline_dirs):
    root, data = pipeline_dirs
    run = run_full_pipeline(spark, data, os.path.join(root, "out"), run_id="t1")
    _assert_zones_match_disk(spark, run)

    assert run.ingested == {
        "khach_hang": 5,
        "loai_mon": 3,
        "mon": 3,
        "nguyen_lieu": 2,
        "dat_hang": 3,
    }
    assert run.zone_counts["khach_hang"] == {"clean": 1, "error": 4}
    assert run.zone_counts["loai_mon"] == {"clean": 2, "error": 1}
    assert run.zone_counts["mon"] == {"clean": 1, "error": 2}
    assert run.zone_counts["nguyen_lieu"] == {"clean": 1, "error": 1}
    assert run.zone_counts["dat_hang"] == {"clean": 1, "error": 2}

    # canonical layout + lineage landed in the clean zone
    kh = spark.read.parquet(os.path.join(run.zones.clean, "khach_hang"))
    row = kh.collect()[0]
    assert row["customer_id"] == "1" and row["_source"] == "csv"
    assert row["_run_id"] == "t1" and row["_line_no"] == 1

    # the malformed CSV line reaches no zone (clean, error or poison)
    for zone in (run.zones.clean, run.zones.error):
        for entity in os.listdir(zone):
            landed = spark.read.format(
                "json" if entity.endswith("_poison") else "parquet"
            ).load(os.path.join(zone, entity))
            text = F.concat_ws("|", *[F.col(c).cast("string") for c in landed.columns])
            assert landed.filter(text.contains("Broken")).count() == 0, entity

    # error zone carries the reject reasons
    err = spark.read.parquet(os.path.join(run.zones.error, "khach_hang"))
    msgs = " ;; ".join(r["_errors"] for r in err.collect())
    for expected in ("duplicate customer_id", "ho_ten has illegal characters",
                     "invalid phone", "invalid email"):
        assert expected in msgs

    # marts: merged view registered and queryable via SQL
    n = spark.sql("SELECT COUNT(*) AS n FROM khach_hang_merged").collect()[0]["n"]
    assert n == 1
    src = spark.sql("SELECT source, COUNT(*) c FROM mon_merged GROUP BY source").collect()
    assert {r["source"] for r in src} == {"csv"}

    # cross-run history recorded (A4 across runs)
    from data_integration_project_spark.pipeline import run_history

    hist = {
        r["entity"]: (r["ingested"], r["clean"], r["error"])
        for r in run_history(spark, os.path.join(root, "out")).collect()
    }
    assert hist["khach_hang"] == (5, 1, 4)
    assert hist["dat_hang"] == (3, 1, 2)


@pytest.mark.parametrize(
    "pipeline_dirs",
    [{"loaisanpham.csv": ["id,ten_loai,mo_ta", "1,,Blank", "2,,Also blank"]}],
    indirect=True,
)
def test_run_full_pipeline_all_rows_rejected(spark, pipeline_dirs):
    """Every row of the entity fails validation: the clean zone is
    empty, and the marts still build an empty merged view."""
    root, data = pipeline_dirs
    run = run_full_pipeline(spark, data, os.path.join(root, "out"), run_id="t2")

    assert run.ingested == {"loai_mon": 2}
    assert run.zone_counts == {"loai_mon": {"clean": 0, "error": 2}}
    _assert_zones_match_disk(spark, run)
    merged = spark.table("loai_mon_merged")
    assert "source" in merged.columns and merged.count() == 0


def test_entity_rules_rebuilt_for_a_new_spark_context(spark):
    """The drain's RuleSet is built once per SparkContext; another
    context gets freshly built rule columns."""
    live = pipeline._entity_rules(spark, "khach_hang")
    assert pipeline._entity_rules(spark, "khach_hang") is live
    other = pipeline._entity_rules(types.SimpleNamespace(sparkContext=object()), "khach_hang")
    assert other is not live and len(other.rules) == len(live.rules)
    assert all(a.check is not b.check for a, b in zip(live.rules, other.rules))
    assert pipeline._entity_rules(spark, "khach_hang") is not live


@pytest.mark.parametrize(
    "pipeline_dirs", [{"loaisanpham.csv": _CSVS["loaisanpham.csv"]}], indirect=True
)
def test_drain_ignores_changes_to_ruleset_for_results(spark, pipeline_dirs):
    """``ruleset_for`` returns a fresh RuleSet a caller may extend; the
    drain validates with its own, which such a change does not reach."""
    root, data = pipeline_dirs
    mine = ruleset_for("loai_mon", source="csv")
    assert mine is not ruleset_for("loai_mon", source="csv")
    mine.rule("reject_all", F.lit(False), "planted rule")
    cached = pipeline._entity_rules(spark, "loai_mon")
    assert "reject_all" not in [r.name for r in cached.rules]
    run = run_full_pipeline(spark, data, os.path.join(root, "out"), run_id="rs")
    assert run.zone_counts == {"loai_mon": {"clean": 2, "error": 1}}


def test_ingest_same_entity_files_append_in_order(spark):
    """Files of one entity share the ``inbox/{entity}`` directory, whose
    commit staging cannot take two appends at once: they publish one
    after another inside the entity's task, with no lost rows."""
    root = tempfile.mkdtemp(prefix="same_entity_")
    try:
        data = os.path.join(root, "data")
        os.makedirs(data)
        header = "id,ho_ten,sdt,thanh_pho,email"
        for f, name in enumerate(("khachhang.csv", "customer.csv", "khach_hang2.csv")):
            rows = [
                f"{f * 200 + i},Khach Hang,0912345678,Ha Noi,kh{i}@example.vn"
                for i in range(1, 201)
            ]
            with open(os.path.join(data, name), "w", encoding="utf-8") as fh:
                fh.write("\n".join([header, *rows]) + "\n")
        for trial in range(3):
            zones = ZonePaths(os.path.join(root, f"run_{trial}"))
            assert ingest_csv_dir(spark, data, zones, run_id=f"t{trial}") == {"khach_hang": 600}
            inbox = spark.read.text(os.path.join(zones.inbox, "khach_hang"))
            assert inbox.count() == 600, trial
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_drain_failure_waits_for_every_stream(spark, pipeline_dirs, monkeypatch):
    """One entity's stream fails: its exception reaches the caller only
    after every other entity has drained, and no stream keeps running."""
    root, data = pipeline_dirs
    zones = ZonePaths(os.path.join(root, "out", "run_fail"))
    ingested = ingest_csv_dir(spark, data, zones, run_id="fail")

    real = pipeline._transform_validate_dedup

    def failing(entity, df):
        if entity == "mon":
            raise RuntimeError("planted failure in mon")
        return real(entity, df)

    monkeypatch.setattr(pipeline, "_transform_validate_dedup", failing)
    with pytest.raises(Exception, match="planted failure in mon"):
        drain_and_validate(spark, zones, sorted(ingested))

    assert spark.streams.active == []
    for zone, n in ((zones.clean, 1), (zones.error, 4)):
        assert spark.read.parquet(os.path.join(zone, "khach_hang")).count() == n


def test_ingest_tasks_inherit_job_group(spark, pipeline_dirs):
    """Ingest's per-entity threads run their jobs under the caller's job
    group, so ``cancelJobGroup`` reaches them."""
    root, data = pipeline_dirs
    sc = spark.sparkContext
    sc.setJobGroup("g-ingest", "ingest under a job group")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            ingest_csv_dir(spark, data, ZonePaths(os.path.join(root, "out")), run_id="jg")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup("g-ingest")
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


@pytest.mark.parametrize("pipeline_dirs", [{"notes.csv": ["a,b", "1,2"]}], indirect=True)
def test_run_full_pipeline_no_recognised_csv(spark, pipeline_dirs):
    root, data = pipeline_dirs
    run = run_full_pipeline(spark, data, os.path.join(root, "out"), run_id="t3")
    assert run.ingested == {} and run.zone_counts == {}


def test_run_history_rows_and_nullable_schema(spark):
    """History rows are built from literals on the JVM, not from a
    Python list; the table keeps the nullable layout it had when it was
    written from ``createDataFrame`` rows."""
    import pyarrow.parquet as pq

    root = tempfile.mkdtemp(prefix="run_history_")
    try:
        run = pipeline.PipelineRun(
            run_id="h1",
            zones=ZonePaths(root),
            ingested={"khach_hang": 5, "mon": 3},
            zone_counts={"mon": {"clean": 1, "error": 2}, "khach_hang": {"clean": 1, "error": 4}},
        )
        pipeline.record_run_history(spark, root, run)
        hist = pipeline.run_history(spark, root)
        assert sorted(
            (r["run_id"], r["entity"], r["ingested"], r["clean"], r["error"])
            for r in hist.collect()
        ) == [("h1", "khach_hang", 5, 1, 4), ("h1", "mon", 3, 1, 2)]
        assert hist.filter(F.col("recorded_at").isNull()).count() == 0
        (part,) = [
            os.path.join(base, f)
            for base, _, files in os.walk(os.path.join(root, "run_history"))
            for f in files
            if f.endswith(".parquet")
        ]
        schema = pq.read_schema(part)
        assert [(f.name, str(f.type), f.nullable) for f in schema if f.name != "recorded_at"] == [
            ("entity", "string", True),
            ("ingested", "int64", True),
            ("clean", "int64", True),
            ("error", "int64", True),
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_case_mapping_preload_runs_no_job(spark):
    """Ingest initialises the ICU case mappings beside its entity tasks;
    that runs on the driver and adds no Spark job to the flow."""
    sc = spark.sparkContext
    sc.setJobGroup("g-case-mappings", "case mapping preload")
    try:
        pipeline._load_case_mappings(spark)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup("g-case-mappings")) == []
