"""Per-rule dirty-fixture tests for the 106-rule reconstruction
(operators/entity_rules.py; doc inventory COMPLETE_DOCUMENTATION.md:
265-306). Every check rule has a firing fixture + a clean fixture,
every fix rule an input→repaired assertion, every relational rule a
join-level test; the inventory test pins the per-entity totals."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_integration_project_spark.operators import entity_rules as ER
from data_integration_project_spark.operators.quality import reject_duplicates

# ---------------------------------------------------------------------------
# Inventory shape
# ---------------------------------------------------------------------------


def test_documented_rule_counts(spark):
    totals = {
        name: factory().total_rules
        for name, factory in ER.ENTITY_RULESETS.items()
    }
    assert totals == ER.DOCUMENTED_RULE_COUNTS
    assert sum(totals.values()) == 106


def test_per_field_allocation(spark):
    expected = {
        "khach_hang": {"customer_id": 7, "ho_ten": 8, "sdt": 6, "email": 5, "thanh_pho": 4},
        "loai_mon": {"ma_loai": 4, "ten_loai": 5, "mo_ta": 3},
        "mon": {"ma_mon": 2, "ten_mon": 5, "loai_id": 4, "gia": 4},
        "mon_csv": {"id": 2, "ten_san_pham": 5, "gia": 3, "loai": 2},
        "nguyen_lieu": {
            "ma_nguyen_lieu": 2,
            "ten_nguyen_lieu": 5,
            "so_luong": 4,
            "don_vi": 3,
            "nha_cung_cap": 3,
        },
        "dat_hang": {
            "ma_don_hang": 3,
            "khach_hang_id": 3,
            "mon_id": 3,
            "so_luong": 4,
            "ngay_dat": 4,
            "trang_thai": 3,
        },
    }
    for entity, fields in expected.items():
        assert ER.ENTITY_RULESETS[entity]().inventory() == fields, entity


def test_per_source_routing(spark):
    assert ER.ruleset_for("mon", "csv").entity == "mon_csv"
    assert ER.ruleset_for("mon", "sql").entity == "mon"
    assert ER.ruleset_for("khach_hang", "csv").entity == "khach_hang"


# ---------------------------------------------------------------------------
# Fixture harness
# ---------------------------------------------------------------------------

SCHEMAS = {
    "khach_hang": "customer_id string, ho_ten string, sdt string,"
    " thanh_pho string, email string",
    "loai_mon": "ma_loai string, ten_loai string, mo_ta string",
    "mon": "ma_mon string, ten_mon string, loai_id int, gia double",
    "mon_csv": "id string, ten_san_pham string, gia string, loai string",
    "nguyen_lieu": "ma_nguyen_lieu string, ten_nguyen_lieu string,"
    " so_luong double, don_vi string, nha_cung_cap string",
    "dat_hang": "ma_don_hang string, khach_hang_id string, mon_id string,"
    " so_luong double, ngay_dat date, trang_thai string",
}

CLEAN = {
    "khach_hang": ("1", "An Nguyen", "0912345678", "Ha Noi", "an@example.vn"),
    "loai_mon": ("1", "An sang", "Breakfast dishes"),
    "mon": ("1", "Pho Bo", 1, 45000.0),
    "mon_csv": ("1", "Pho Bo", "45000", "An sang"),
    "nguyen_lieu": ("1", "Gao loai 1", 25.0, "kg", "Cty A"),
    "dat_hang": ("1", "2", "3", 2.0, dt.date(2024, 1, 5), "NEW"),
}

FIELD_POS = {
    entity: {f.split()[0]: i for i, f in enumerate(schema.split(", "))}
    for entity, schema in SCHEMAS.items()
}


def _validate_one(spark, entity: str, row: tuple):
    df = spark.createDataFrame([row], SCHEMAS[entity])
    out = ER.ENTITY_RULESETS[entity]().validate(df).collect()[0]
    return out


def _mutate(entity: str, field: str, value) -> tuple:
    row = list(CLEAN[entity])
    row[FIELD_POS[entity][field]] = value
    return tuple(row)


# (entity, field, dirty value, expected message)
CHECK_CASES = [
    ("khach_hang", "customer_id", "", "missing customer_id"),
    ("khach_hang", "customer_id", "12a", "invalid customer_id"),
    ("khach_hang", "customer_id", "0", "customer_id must be positive"),
    ("khach_hang", "customer_id", "007", "customer_id has leading zeros"),
    ("khach_hang", "ho_ten", "", "ho_ten is blank"),
    ("khach_hang", "ho_ten", "Binh Tran2424", "ho_ten has illegal characters"),
    ("khach_hang", "ho_ten", "B", "ho_ten too short"),
    ("khach_hang", "ho_ten", "A" + "a" * 100, "ho_ten too long"),
    ("khach_hang", "ho_ten", "Test", "ho_ten is a placeholder"),
    ("khach_hang", "sdt", "", "missing phone"),
    ("khach_hang", "sdt", "123", "invalid phone"),
    ("khach_hang", "sdt", "8123456789", "invalid phone prefix"),
    ("khach_hang", "sdt", "9999999999", "phone is a repeated digit"),
    ("khach_hang", "email", "", "missing email"),
    ("khach_hang", "email", "test@", "invalid email"),
    ("khach_hang", "email", "a@mailinator.com", "disposable email domain"),
    ("khach_hang", "thanh_pho", "", "missing thanh_pho"),
    ("khach_hang", "thanh_pho", "Mars City", "unknown thanh_pho"),
    ("loai_mon", "ma_loai", "", "missing ma_loai"),
    ("loai_mon", "ma_loai", "x1", "invalid ma_loai"),
    ("loai_mon", "ten_loai", "", "ten_loai is blank"),
    ("loai_mon", "ten_loai", "An@sang", "ten_loai has illegal characters"),
    ("loai_mon", "ten_loai", "A" * 101, "ten_loai too long"),
    ("loai_mon", "mo_ta", "d" * 501, "mo_ta too long"),
    ("loai_mon", "mo_ta", "n/a", "mo_ta is a placeholder"),
    ("mon", "ma_mon", "x1", "invalid ma_mon"),
    ("mon", "ten_mon", "", "ten_mon is blank"),
    ("mon", "ten_mon", "B", "ten_mon too short"),
    ("mon", "ten_mon", "A" * 201, "ten_mon too long"),
    ("mon", "ten_mon", "unknown", "ten_mon is a placeholder"),
    ("mon", "loai_id", None, "loai_id missing"),
    ("mon", "loai_id", 0, "loai_id must be positive"),
    ("mon", "loai_id", 200000, "loai_id out of range"),
    ("mon", "gia", 0.0, "gia must be > 0"),
    ("mon", "gia", 20000000.0, "gia implausibly large"),
    ("mon", "gia", 45000.5, "gia has fractional dong"),
    ("mon", "gia", 500.0, "gia implausibly small"),
    ("mon_csv", "id", "x1", "invalid id"),
    ("mon_csv", "ten_san_pham", "", "ten_san_pham is blank"),
    ("mon_csv", "ten_san_pham", "B", "ten_san_pham too short"),
    ("mon_csv", "ten_san_pham", "A" * 201, "ten_san_pham too long"),
    ("mon_csv", "ten_san_pham", "!!!", "ten_san_pham has no letters"),
    ("mon_csv", "gia", "abc", "gia unparseable"),
    ("mon_csv", "gia", "-345", "gia must be > 0"),
    ("mon_csv", "gia", "25000000", "gia implausibly large"),
    ("mon_csv", "loai", "", "loai is blank"),
    ("nguyen_lieu", "ma_nguyen_lieu", "x1", "invalid ma_nguyen_lieu"),
    ("nguyen_lieu", "ten_nguyen_lieu", "", "ten_nguyen_lieu is blank"),
    ("nguyen_lieu", "ten_nguyen_lieu", "B", "ten_nguyen_lieu too short"),
    ("nguyen_lieu", "ten_nguyen_lieu", "Gao@#", "ten_nguyen_lieu has illegal characters"),
    ("nguyen_lieu", "ten_nguyen_lieu", "A" * 201, "ten_nguyen_lieu too long"),
    ("nguyen_lieu", "so_luong", None, "so_luong missing"),
    ("nguyen_lieu", "so_luong", -5.0, "so_luong negative"),
    ("nguyen_lieu", "so_luong", 2000000.0, "so_luong implausibly large"),
    ("nguyen_lieu", "so_luong", 0.12345, "so_luong has excess precision"),
    ("nguyen_lieu", "don_vi", "", "missing don_vi"),
    ("nguyen_lieu", "don_vi", "barrel", "unknown don_vi"),
    ("nguyen_lieu", "nha_cung_cap", "Cty@!", "nha_cung_cap has illegal characters"),
    ("nguyen_lieu", "nha_cung_cap", "A" * 201, "nha_cung_cap too long"),
    ("dat_hang", "ma_don_hang", "x", "invalid ma_don_hang"),
    ("dat_hang", "khach_hang_id", "", "khach_hang_id missing"),
    ("dat_hang", "khach_hang_id", "abc", "khach_hang_id not numeric"),
    ("dat_hang", "mon_id", "", "mon_id missing"),
    ("dat_hang", "mon_id", "abc", "mon_id not numeric"),
    ("dat_hang", "so_luong", None, "so_luong missing"),
    ("dat_hang", "so_luong", 0.0, "so_luong must be > 0"),
    ("dat_hang", "so_luong", 2.5, "so_luong not a whole number"),
    ("dat_hang", "so_luong", 5000.0, "so_luong implausibly large"),
    ("dat_hang", "ngay_dat", None, "ngay_dat missing/unparseable"),
    ("dat_hang", "ngay_dat", dt.date(1999, 1, 1), "ngay_dat before 2000"),
    ("dat_hang", "ngay_dat", dt.date(2031, 1, 1), "ngay_dat in the future"),
    ("dat_hang", "ngay_dat", dt.date(1970, 1, 1), "ngay_dat is the epoch default"),
    ("dat_hang", "trang_thai", "", "trang_thai missing"),
    ("dat_hang", "trang_thai", "SHIPPED", "unknown trang_thai"),
]


@pytest.mark.parametrize(
    "entity,field,dirty,message",
    CHECK_CASES,
    ids=[f"{e}.{f}.{m.replace(' ', '_')}" for e, f, _, m in CHECK_CASES],
)
def test_check_rule_fires(spark, entity, field, dirty, message):
    out = _validate_one(spark, entity, _mutate(entity, field, dirty))
    assert message in out["_errors"], out["_errors"]


def test_clean_rows_pass_every_validator(spark):
    for entity in ER.ENTITY_RULESETS:
        out = _validate_one(spark, entity, CLEAN[entity])
        assert out["_is_valid"], (entity, out["_errors"])


# (entity, field, dirty input, repaired value)
FIX_CASES = [
    ("khach_hang", "customer_id", " 12 ", "12"),
    ("khach_hang", "customer_id", '"12"', "12"),
    ("khach_hang", "ho_ten", "An   Nguyen ", "An Nguyen"),
    ("khach_hang", "ho_ten", "Chi Le*", "Chi Le"),
    ("khach_hang", "ho_ten", "an NGUYEN", "An Nguyen"),
    ("khach_hang", "sdt", "09-1122-3344", "0911223344"),
    ("khach_hang", "sdt", "84911222333", "0911222333"),
    ("khach_hang", "email", " AN@Example.COM ", "an@example.com"),
    ("khach_hang", "thanh_pho", " Ha   Noi ", "Ha Noi"),
    ("khach_hang", "thanh_pho", "hanoi", "Ha Noi"),
    ("khach_hang", "thanh_pho", "Sai Gon", "Ho Chi Minh"),
    ("loai_mon", "ma_loai", " 1 ", "1"),
    ("loai_mon", "ten_loai", "An  sang", "An sang"),
    ("loai_mon", "ten_loai", "An sang3", "An sang"),
    ("loai_mon", "mo_ta", " desc ", "desc"),
    ("mon", "ma_mon", " 1 ", "1"),
    ("mon", "ten_mon", "Pho  Bo ", "Pho Bo"),
    ("mon_csv", "id", " 1 ", "1"),
    ("mon_csv", "ten_san_pham", "Che  Dau ", "Che Dau"),
    ("mon_csv", "loai", "An_sang", "an sang"),
    ("mon_csv", "loai", "AN- SANG", "an sang"),
    ("nguyen_lieu", "ma_nguyen_lieu", " 1 ", "1"),
    ("nguyen_lieu", "ten_nguyen_lieu", "Gao  loai 1", "Gao loai 1"),
    ("nguyen_lieu", "don_vi", " KG ", "kg"),
    ("nguyen_lieu", "nha_cung_cap", "Cty  A ", "Cty A"),
    ("dat_hang", "ma_don_hang", " 1 ", "1"),
    ("dat_hang", "trang_thai", " new ", "NEW"),
]


@pytest.mark.parametrize(
    "entity,field,dirty,repaired",
    FIX_CASES,
    ids=[f"{e}.{f}.{i}" for i, (e, f, _, _) in enumerate(FIX_CASES)],
)
def test_fix_rule_repairs(spark, entity, field, dirty, repaired):
    out = _validate_one(spark, entity, _mutate(entity, field, dirty))
    assert out[field] == repaired
    # a repaired row must VALIDATE clean (fix-then-validate contract)
    assert out["_is_valid"], (out[field], out["_errors"])


# ---------------------------------------------------------------------------
# Relational rules (dedup + FK)
# ---------------------------------------------------------------------------


def test_id_unique_first_wins(spark):
    rows = [
        (1, *CLEAN["khach_hang"]),
        (2, *CLEAN["khach_hang"]),  # same id, later line → duplicate
    ]
    df = spark.createDataFrame(rows, "line int, " + SCHEMAS["khach_hang"])
    validated = ER.khach_hang_rules().validate(df)
    out = reject_duplicates(
        validated.drop("_is_valid"),
        ["customer_id"],
        [F.col("line")],
        "duplicate customer_id",
    )
    got = {r["line"]: r for r in out.collect()}
    assert "duplicate customer_id" not in got[1]["_errors"]
    assert "duplicate customer_id" in got[2]["_errors"]
    # same machinery backs the loai_mon id_unique marker
    lm = spark.createDataFrame(
        [(1, *CLEAN["loai_mon"]), (2, *CLEAN["loai_mon"])],
        "line int, " + SCHEMAS["loai_mon"],
    )
    lv = ER.loai_mon_rules().validate(lm)
    lout = reject_duplicates(
        lv.drop("_is_valid"), ["ma_loai"], [F.col("line")], "duplicate ma_loai"
    )
    lgot = {r["line"]: r for r in lout.collect()}
    assert "duplicate ma_loai" not in lgot[1]["_errors"]
    assert "duplicate ma_loai" in lgot[2]["_errors"]


def test_email_unique_skips_null_keys(spark):
    rows = [
        (1, "1", "An Nguyen", "0912345678", "Ha Noi", None),
        (2, "2", "Ba Bon", "0913333444", "Hue", None),  # both NULL emails
        (3, "3", "Chi Le", "0914444555", "Hue", "x@example.vn"),
        (4, "4", "Dung Pham", "0915555666", "Hue", "X@Example.VN"),  # dup post-fix
    ]
    df = spark.createDataFrame(rows, "line int, " + SCHEMAS["khach_hang"])
    validated = ER.khach_hang_rules().validate(df)
    out = reject_duplicates(
        validated.drop("_is_valid"),
        ["email"],
        [F.col("line")],
        "duplicate email",
        skip_null_keys=True,
    )
    got = {r["line"]: r for r in out.collect()}
    assert all("duplicate email" not in got[i]["_errors"] for i in (1, 2, 3))
    assert "duplicate email" in got[4]["_errors"]


def test_fk_rules_flag_unknown_keys(spark):
    orders = spark.createDataFrame(
        [(1, *CLEAN["dat_hang"]), (2, *_mutate("dat_hang", "khach_hang_id", "99"))],
        "line int, " + SCHEMAS["dat_hang"],
    )
    dim = spark.createDataFrame([("2",)], "khach_hang_id string")
    validated = ER.dat_hang_rules().validate(orders).drop("_is_valid")
    out = ER.fk_exists(
        validated, "khach_hang_id", dim, "khach_hang_id", "unknown khach_hang_id"
    )
    got = {r["line"]: r for r in out.collect()}
    assert "unknown khach_hang_id" not in got[1]["_errors"]
    assert "unknown khach_hang_id" in got[2]["_errors"]
    # mon loai_id FK — the mon ruleset's relational marker
    mon = spark.createDataFrame(
        [(1, *CLEAN["mon"]), (2, *_mutate("mon", "loai_id", 42))],
        "line int, " + SCHEMAS["mon"],
    )
    loai = spark.createDataFrame([(1,)], "loai_id int")
    v = ER.mon_rules().validate(mon).drop("_is_valid")
    out2 = ER.fk_exists(v, "loai_id", loai, "loai_id", "unknown loai_id")
    got2 = {r["line"]: r for r in out2.collect()}
    assert "unknown loai_id" not in got2[1]["_errors"]
    assert "unknown loai_id" in got2[2]["_errors"]


def test_every_rule_name_has_a_test(spark):
    """Completeness guard: every check rule's message appears in
    CHECK_CASES, every fix rule's column in FIX_CASES, every relational
    rule in the dedicated tests — so a rule added without a fixture
    fails HERE, not in review."""
    tested_msgs = {(e, m) for e, _, _, m in CHECK_CASES}
    tested_fix_cols = {(e, f) for e, f, _, _ in FIX_CASES}
    rel_tested = {
        ("khach_hang", "id_unique"),
        ("khach_hang", "email_unique"),
        ("loai_mon", "id_unique"),
        ("dat_hang", "id_unique"),
        ("dat_hang", "customer_fk"),
        ("dat_hang", "item_fk"),
        ("mon", "loai_fk"),
    }
    for entity, factory in ER.ENTITY_RULESETS.items():
        rs = factory()
        for rule in rs.rules:
            assert (entity, rule.message) in tested_msgs, (entity, rule.name)
        for fx in rs.fixes:
            assert (entity, fx.column) in tested_fix_cols, (entity, fx.name)
        for rel in rs.relationals:
            assert (entity, rel.name) in rel_tested, (entity, rel.name)


# ---------------------------------------------------------------------------
# Whitespace twins: the DuckDB oracles collapse what Java's \s matches
# ---------------------------------------------------------------------------

_VT = "\x0b"  # in Java's \s, not in RE2's


def _duck_column(expr: str, col: str, values: list[str]) -> list:
    import duckdb

    rows = ", ".join(f"({i}, '{v}')" for i, v in enumerate(values))
    sql = f"SELECT {expr} FROM (VALUES {rows}) t(i, {col}) ORDER BY i"
    return [r[0] for r in duckdb.connect().execute(sql).fetchall()]


def _spark_column(spark, fixed, col: str, values: list[str]) -> list:
    df = spark.createDataFrame(list(enumerate(values)), f"i int, {col} string")
    return [r[col] for r in fixed(df).orderBy("i").collect()]


def _fixed(transform, rules):
    """The frame after the entity transform and its RuleSet's fixes
    (``i`` rides through as lineage)."""
    def fixed(df):
        out = rules().apply_fixes(transform(df.withColumnRenamed("i", "_i")))
        return out.withColumnRenamed("_i", "i")

    return fixed


def _whitespace_twins():
    from data_integration_project_spark.functions.cleaning import (
        transform_khach_hang,
        transform_nguyen_lieu,
    )
    from data_integration_project_spark.operators.canonical import sql_city_canonical_case
    from data_integration_project_spark.plans import entities_q as E
    from data_integration_project_spark.plans import quality_q as Q

    kh = _fixed(transform_khach_hang, ER.khach_hang_rules)
    return {
        "ho_ten": (E._SQL_TITLE.format(x=E._SQL_NAME_FIXED), kh,
                   [f"An{_VT}Nguyen", f" Binh {_VT} Tran", f"{_VT}Chi Le*{_VT}"]),
        "thanh_pho": (sql_city_canonical_case(E._SQL_CITY_FIXED), kh,
                      [f"Ha{_VT}Noi", f"Ho Chi{_VT}Minh", f"Hue{_VT}"]),
        "ten_nguyen_lieu": (E._SQL_NL_NAME, _fixed(transform_nguyen_lieu, ER.nguyen_lieu_rules),
                            [f"Bot{_VT}mi", f"{_VT}Sua  tuoi{_VT}{_VT}"]),
        # the customer fixes also touch email and sdt
        "c_name": (Q._SQL_C_NAME_FIXED,
                   lambda df: Q.customer_ruleset().apply_fixes(
                       df.withColumns({"email": F.lit(""), "sdt": F.lit("")})),
                   [f"Customer{_VT}#000000001", f"  Customer {_VT}#2 "]),
    }


@pytest.mark.parametrize("col", ["ho_ten", "thanh_pho", "ten_nguyen_lieu", "c_name"])
def test_oracle_whitespace_matches_java(spark, col):
    sql, fixed, values = _whitespace_twins()[col]
    assert _duck_column(sql, col, values) == _spark_column(spark, fixed, col, values)
