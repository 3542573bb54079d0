"""CSV source leg (reference S1-S3): permissive entity CSV scans with
corrupt-line capture and explicit ingestion order, plus driver-side
source discovery.

Reference mapping:

- S1 ``csv_staging_reader`` (etl/readers/csv_staging_reader.py:7-26):
  BOM-tolerant streaming dict reader → ``spark.read.csv`` with an
  explicit all-string schema (the reference's rows are all strings
  until transforms cast them), PERMISSIVE mode and a
  ``_corrupt_record`` column instead of erroring mid-file.
- S2 ``CSVDiscovery`` (etl/discovery/csv_discovery.py:16-90): glob +
  filename→entity normalization mapping.
- S3 ``get_latest_extract_dir`` (etl/discovery/csv_discovery.py:92-117)
  has no counterpart: the ETL takes its batch directory as an argument.

Ingestion order: the reference consumes rows in file order and its
dedup is order-dependent (V2). Spark has no implicit row order, so
``with_line_numbers`` materializes one: ``monotonically_increasing_id``
increases with (partition-index, in-partition position), and the file
source assigns split indexes in file/offset order, so ranking it per
file reproduces physical line order deterministically.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

#: Raw (pre-transform) column layouts per entity source file — all
#: strings, exactly what a DictReader would yield (FIXTURES.md §A).
RAW_CSV_LAYOUTS: dict[str, list[str]] = {
    "khach_hang": ["id", "ho_ten", "sdt", "thanh_pho", "email"],
    "loai_mon": ["id", "ten_loai", "mo_ta"],
    "mon": ["id", "ten_san_pham", "gia", "loai"],
    "nguyen_lieu": ["id", "ten_nguyen_lieu", "so_luong", "don_vi", "gia", "ngay_nhap"],
    "dat_hang": ["id", "khach_hang_id", "mon_id", "so_luong", "ngay_dat", "trang_thai"],
}

#: filename stem → entity (reference csv_discovery.py:51-90 /
#: main.py:789-807 normalization table).
FILENAME_TO_ENTITY: dict[str, str] = {
    "khachhang": "khach_hang",
    "khach_hang": "khach_hang",
    "customer": "khach_hang",
    "loaisanpham": "loai_mon",
    "loai_mon": "loai_mon",
    "category": "loai_mon",
    "tensanpham": "mon",
    "mon": "mon",
    "sanpham": "mon",
    "product": "mon",
    "nguyenlieu": "nguyen_lieu",
    "nguyen_lieu": "nguyen_lieu",
    "ingredient": "nguyen_lieu",
    "dathang": "dat_hang",
    "dat_hang": "dat_hang",
    "order": "dat_hang",
}


def raw_schema(entity: str, corrupt_col: str = "_corrupt_record") -> T.StructType:
    """All-string schema + corrupt-record capture column."""
    cols = RAW_CSV_LAYOUTS[entity]
    return T.StructType(
        [T.StructField(c, T.StringType()) for c in cols]
        + [T.StructField(corrupt_col, T.StringType())]
    )


def read_entity_csv(spark: SparkSession, path: str, entity: str) -> DataFrame:
    """S1: permissive header CSV scan. Malformed lines land whole in
    ``_corrupt_record`` (the caller drops them before publishing —
    poison-row analogue) instead of failing the read. BOM is handled by
    the datasource (no utf-8-sig special-casing needed)."""
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("encoding", "UTF-8")
        .schema(raw_schema(entity))
        .csv(path)
    )


def with_line_numbers(df: DataFrame, order_col: str = "_line_no") -> DataFrame:
    """Materialize per-file physical line order (1-based) — the
    explicit ingestion-order column that first-wins dedup (V2) sorts by.
    One window shuffle per file; at scale, prefer an order column
    already present in the data (the reference has none, so neither do
    its files)."""
    w = Window.partitionBy(F.input_file_name()).orderBy(
        F.monotonically_increasing_id()
    )
    return df.withColumn(order_col, F.row_number().over(w))


def entity_for_filename(path: str) -> str | None:
    """S2 classification: normalized stem lookup (lowercase, drop
    digits/dashes/spaces, try exact then prefix match)."""
    stem = os.path.splitext(os.path.basename(path))[0]
    norm = re.sub(r"[\s\-]+", "_", stem.lower())
    norm = re.sub(r"\d+$", "", norm).strip("_")
    if norm in FILENAME_TO_ENTITY:
        return FILENAME_TO_ENTITY[norm]
    flat = norm.replace("_", "")
    if flat in FILENAME_TO_ENTITY:
        return FILENAME_TO_ENTITY[flat]
    for key, entity in FILENAME_TO_ENTITY.items():
        if flat.startswith(key.replace("_", "")):
            return entity
    return None


def discover_csvs(data_dir: str) -> list[dict]:
    """S2: glob ``*.csv`` and classify each file. Driver-side (file
    listing is metadata work, not data work)."""
    out = []
    for path in sorted(glob.glob(os.path.join(data_dir, "*.csv"))):
        entity = entity_for_filename(path)
        out.append(
            {
                "file_path": path,
                "entity_type": entity,
                "queue_name": f"queue_{entity}" if entity else None,
            }
        )
    return out

