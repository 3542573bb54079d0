"""CSV source leg tests (S1-S2): discovery classification, permissive
reads with corrupt capture, and ingestion-order line numbers."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from data_integration_project_spark.sources.csv import (
    discover_csvs,
    entity_for_filename,
    read_entity_csv,
    with_line_numbers,
)


def test_filename_classification():
    assert entity_for_filename("data/khachhang.csv") == "khach_hang"
    assert entity_for_filename("data/KhachHang2.csv") == "khach_hang"
    assert entity_for_filename("loaisanpham.csv") == "loai_mon"
    assert entity_for_filename("tensanpham.csv") == "mon"
    assert entity_for_filename("nguyen-lieu.csv") == "nguyen_lieu"
    assert entity_for_filename("dathang_01.csv") == "dat_hang"
    assert entity_for_filename("mystery.csv") is None


def test_discover_csvs():
    d = tempfile.mkdtemp()
    for name in ("khachhang.csv", "dathang.csv", "unknown_thing.csv"):
        open(os.path.join(d, name), "w").write("x\n")
    found = discover_csvs(d)
    by_file = {os.path.basename(f["file_path"]): f for f in found}
    assert by_file["khachhang.csv"]["entity_type"] == "khach_hang"
    assert by_file["khachhang.csv"]["queue_name"] == "queue_khach_hang"
    assert by_file["unknown_thing.csv"]["entity_type"] is None


def test_permissive_read_with_line_numbers(spark):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "khachhang.csv")
    with open(p, "w", encoding="utf-8-sig") as f:  # BOM like the reference
        f.write("id,ho_ten,sdt,thanh_pho,email\n")
        f.write("1,Alice An,0912345678,Hanoi,alice@example.com\n")
        f.write("2,Bob,091234567,HCMC,bob@example.com,EXTRA\n")  # too many cols
        f.write("3,Dave Do,0909999999,Hue,dave@example.vn\n")
    # cache so the two-pass line-number zip reads the file once; release
    # before returning — the session is shared and the oracle gate asserts
    # an empty CacheManager after every catalog query
    df = with_line_numbers(read_entity_csv(spark, p, "khach_hang")).cache()
    try:
        rows = {r["_line_no"]: r for r in df.collect()}
    finally:
        df.unpersist()
    assert rows[1]["id"] == "1"  # BOM did not mangle the header/first col
    assert rows[1]["_corrupt_record"] is None
    assert rows[2]["_corrupt_record"] is not None  # malformed, captured not fatal
    assert rows[3]["email"] == "dave@example.vn"
    assert sorted(rows) == [1, 2, 3]  # physical line order materialized
