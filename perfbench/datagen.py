"""Seeded input generators for the benchmark.

Two families, both pure numpy/pyarrow (no JVM), so inputs exist before
the Spark session starts and their cost never lands in a timed number:

* :func:`write_tables` — the ten TPC-H-ish catalog tables (FIXTURES.md
  §B) at ``scale`` × sf0.1 row counts, with the value domains of the
  driver's fixture: uniform keys, TPC-H code sets, events in one
  ascending 30-day stream, 10-100-word documents over a 30-word
  vocabulary with 5% planted ``" dup"`` near-duplicates, unit-norm
  64-d embeddings. Each table is one parquet file, split into row
  groups so a scan spans several 8 MB splits.
* :func:`write_etl_batch` — one batch of the reference's five dirty
  entity CSVs, with the reference's row counts and defect counts
  (times ``k``). Every dirty row carries exactly one defect from the set
  whose verdict ``tests/test_full_pipeline.py`` pins, so the clean,
  error and poison counts are known by construction.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts of the driver fixture; ``scale`` multiplies them
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS_SF01 = 1_500
ROW_GROUP_ROWS = 128 * 1024

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _choice(rng: np.random.Generator, values: list, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"))


def _tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * scale))) for t, r in SF01_ROWS.items()}
    users = max(1, int(round(EVENT_USERS_SF01 * scale)))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = np.arange(n["customer"])
    out["customer"] = pa.table(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, k.size).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k.size),
            "c_mktsegment": _choice(rng, SEGMENTS, k.size),
        }
    )
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, k.size).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k.size),
        }
    )
    k = np.arange(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": k,
            "p_name": _choice(rng, names, k.size),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], k.size),
            "p_type": _choice(rng, PART_TYPES, k.size),
            "p_size": rng.integers(1, 51, k.size).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1),
        }
    )
    k = np.arange(n["orders"])
    out["orders"] = pa.table(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], k.size),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], k.size),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k.size),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, k.size),
            "o_orderpriority": _choice(rng, PRIORITIES, k.size),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], m),
            "l_linestatus": _choice(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, m),
        }
    )
    m = n["events"]
    span_us = 30 * 86400 * 10**6
    offsets = np.sort(rng.integers(0, span_us, m))
    out["events"] = pa.table(
        {
            "event_id": np.arange(m),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
            "user_id": rng.integers(0, users, m),
            "event_type": _choice(rng, EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    emb = rng.standard_normal((m, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, m * 64 + 1, 64, dtype=np.int32)),
                pa.array(emb.ravel()),
            ),
            "label": rng.integers(0, 10, m).astype(np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, m: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, m)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    # 5% near-duplicates (an earlier doc + " dup") and a few exact copies
    for i in rng.choice(np.arange(1, m), max(1, m // 20), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, m), max(1, m // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table(
        {
            "doc_id": np.arange(m),
            "text": texts,
            "lang": _choice(rng, LANGS, m, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write every catalog table as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(scale, seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=ROW_GROUP_ROWS,
        )


# ---------------------------------------------------------------------------
# ETL batches: the five reference entity CSVs with planted defects
# ---------------------------------------------------------------------------

GIVEN = ["An", "Binh", "Chi", "Dung", "Giang", "Hoa", "Khanh", "Lan", "Minh", "Nam"]
FAMILY = ["Nguyen", "Tran", "Le", "Pham", "Hoang", "Vu", "Dang", "Bui"]
CITIES = ["Ha Noi", "Ho Chi Minh", "Da Nang", "Hai Phong", "Can Tho", "Hue"]
CATEGORIES = ["An sang", "An trua", "An toi", "An nhe", "Do uong", "Do an vat"]
DISHES = ["Pho Bo", "Bun Cha", "Com Tam", "Banh Mi", "Ca Phe", "Tra Da", "Che"]
INGREDIENTS = ["Ca phe hat", "Sua", "Gao", "Hanh", "Muoi", "Duong", "Thit bo"]
UNITS = ["kg", "g", "chai", "lo"]
STATUSES = ["NEW", "CONFIRMED", "DONE", "CANCELLED"]

#: The reference corpus (FIXTURES.md §A, SURVEY.md §5.1): data rows per
#: entity, and how many of them carry a defect of a kind whose verdict
#: ``tests/test_full_pipeline.py`` pins. One batch is this corpus times
#: ``k``, with the defective rows at seeded positions.
#:
#: * khach_hang: 501 rows; line 3 repeats id 1, line 2 (``123`` phone,
#:   ``test@`` email) and ``Trần Hạnh2424`` (digit in name) are invalid.
#: * loai_mon: 7 rows; line 8 has a blank name. Stray digits in a
#:   category name carry no pinned verdict, so they are not planted.
#: * mon: 108 rows; lines 88-101 are 14 bad prices, planted as the pinned
#:   kinds, unparseable or negative.
#: * nguyen_lieu: 501 rows; one row lost a field (planted as a malformed
#:   line, which ingest drops as poison) and one has an unknown unit.
#: * dat_hang: 30 rows, all clean.
ETL_REF = {
    "khach_hang": {"rows": 501, "duplicate": 1, "defect": 2, "malformed": 0},
    "loai_mon": {"rows": 7, "duplicate": 0, "defect": 1, "malformed": 0},
    "mon": {"rows": 108, "duplicate": 0, "defect": 14, "malformed": 0},
    "nguyen_lieu": {"rows": 501, "duplicate": 0, "defect": 1, "malformed": 1},
    "dat_hang": {"rows": 30, "duplicate": 0, "defect": 0, "malformed": 0},
}
ETL_FILES = {
    "khach_hang": ("khachhang.csv", "id,ho_ten,sdt,thanh_pho,email"),
    "loai_mon": ("loaisanpham.csv", "id,ten_loai,mo_ta"),
    "mon": ("tensanpham.csv", "id,ten_san_pham,gia,loai"),
    "nguyen_lieu": ("nguyenlieu.csv", "id,ten_nguyen_lieu,so_luong,don_vi,gia,ngay_nhap"),
    "dat_hang": ("dathang.csv", "id,khach_hang_id,mon_id,so_luong,ngay_dat,trang_thai"),
}


def _clean_row(entity: str, i: int, rng: np.random.Generator) -> list[str]:
    if entity == "khach_hang":
        name = f"{GIVEN[rng.integers(len(GIVEN))]} {FAMILY[rng.integers(len(FAMILY))]}"
        phone = "09" + "".join(str(d) for d in rng.integers(0, 10, 8))
        if len(set(phone[2:])) == 1:
            phone = phone[:-1] + str((int(phone[-1]) + 1) % 10)
        return [str(i), name, phone, CITIES[rng.integers(len(CITIES))], f"user{i}@example.vn"]
    if entity == "loai_mon":
        return [str(i), CATEGORIES[rng.integers(len(CATEGORIES))], f"Category {i}"]
    if entity == "mon":
        price = str(int(rng.integers(25, 121)) * 1000)
        return [str(i), DISHES[rng.integers(len(DISHES))], price, CATEGORIES[rng.integers(len(CATEGORIES))]]
    if entity == "nguyen_lieu":
        day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 60)))
        return [
            str(i),
            INGREDIENTS[rng.integers(len(INGREDIENTS))],
            str(int(rng.integers(1, 300))),
            UNITS[rng.integers(len(UNITS))],
            str(int(rng.integers(5, 500)) * 1000),
            day.isoformat(),
        ]
    day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 60)))
    return [
        str(i),
        str(int(rng.integers(1, 500))),
        str(int(rng.integers(1, 100))),
        str(int(rng.integers(1, 5))),
        day.isoformat(),
        STATUSES[rng.integers(len(STATUSES))],
    ]


def _defect(entity: str, row: list[str], rng: np.random.Generator) -> list[str]:
    """One pinned defect per dirty row (tests/test_full_pipeline.py)."""
    row = list(row)
    kind = int(rng.integers(3))
    if entity == "khach_hang":
        if kind == 0:
            row[1] = row[1].split()[0] + str(rng.integers(1, 100)) + " " + row[1].split()[1]
        elif kind == 1:
            row[2] = "123"
        else:
            row[4] = row[4].split("@")[0] + "@"
    elif entity == "loai_mon":
        row[1] = ""
    elif entity == "mon":
        row[2] = "abc" if kind < 2 else f"-{rng.integers(1, 100)}"
    elif entity == "nguyen_lieu":
        row[3] = "ban"
    else:
        raise ValueError(f"no defect is planted in {entity}")
    return row


def write_etl_batch(data_dir: str, seed: int, k: int) -> dict[str, dict[str, int]]:
    """Write one batch of five entity CSVs, the reference corpus times
    ``k``; return the expected ``{entity: {"rows", "ingested", "clean",
    "error", "poison"}}``.

    A dirty row is a defective row (error), an exact repeat of an earlier
    clean row (first wins, so the repeat is an error), or a line with one
    field too many (malformed: dropped at ingest, counted as poison)."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    expected: dict[str, dict[str, int]] = {}
    for entity, ref in ETL_REF.items():
        fname, header = ETL_FILES[entity]
        n = ref["rows"] * k
        kinds = np.array(["clean"] * n, dtype=object)
        dirty = {kind: ref[kind] * k for kind in ("duplicate", "defect", "malformed")}
        # row 0 stays clean, so a duplicate always has an earlier row to repeat
        spots = 1 + rng.permutation(n - 1)
        pos = 0
        for kind, count in dirty.items():
            kinds[spots[pos : pos + count]] = kind
            pos += count
        lines, clean_rows = [header], []
        for i, kind in enumerate(kinds, start=1):
            row = _clean_row(entity, i, rng)
            if kind == "malformed":
                row = row + ["EXTRA"]
            elif kind == "duplicate":
                row = clean_rows[rng.integers(len(clean_rows))]
            elif kind == "defect":
                row = _defect(entity, row, rng)
            else:
                clean_rows.append(row)
            lines.append(",".join(row))
        with open(os.path.join(data_dir, fname), "w", encoding="utf-8-sig") as f:
            f.write("\n".join(lines) + "\n")
        poison = dirty["malformed"]
        expected[entity] = {
            "rows": n,
            "ingested": n - poison,
            "clean": n - poison - dirty["duplicate"] - dirty["defect"],
            "error": dirty["duplicate"] + dirty["defect"],
            "poison": poison,
        }
    return expected
