"""End-to-end five-entity pipeline queries — the reference's actual use
case (coffee-shop CSV/SQL sources → transform → validate → merge →
facts), run over synthesized dirty fixtures that reproduce the
reference's dirty-data patterns (SURVEY.md §5.1; values are original,
patterns are parity: duplicate ids, digit/illegal-char names, short
phones, truncated emails, unparseable prices, unknown categories,
broken FK references, malformed CSV lines).

Each query carries a DuckDB oracle over inline VALUES — the SAME
literal rows — re-expressing transform+validate relationally, so the
whole CSV→verdict pipeline is value-hash checked end to end.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import (
    transform_dat_hang,
    transform_khach_hang,
    transform_mon,
    transform_nguyen_lieu,
)
from ..operators.canonical import (
    CITY_DOMAIN,
    city_canonical_dim,
    sql_city_canonical_case,
)
from ..operators.entity_rules import (
    DISPOSABLE_DOMAINS,
    PLACEHOLDERS,
    UNITS,
    dat_hang_rules,
    fk_exists,
    khach_hang_rules,
    mon_csv_rules,
    mon_rules,
    nguyen_lieu_rules,
)
from ..operators.quality import reject_duplicates
from ..operators.reconcile import category_lookup, merged_view
from ..pipeline import run_full_pipeline, run_history
from ..sources.csv import read_entity_csv, with_line_numbers
from .catalog import SQL_DSUM, dsum, query, run_tmpdir

# ---------------------------------------------------------------------------
# Fixture rows (single source of truth for BOTH the CSV file Spark reads
# and the VALUES literals the oracle reads). '' in a CSV field is read
# back by Spark as NULL — the VALUES renderer applies the same rule.
# ---------------------------------------------------------------------------

_KH_ROWS = [
    ("1", "An  Nguyen ", "0912345678", "Ha Noi", "An.Nguyen@Example.com"),  # fixed+valid
    ("1", "An Nguyen", "0912345678", "Ha Noi", "an.nguyen@example.com"),  # dup id (+dup email vs row 1's fixed email)
    ("2", "Binh Tran2424", "0987654321", "Da Nang", "binh@example.vn"),  # digits in name → REJECT
    ("3", "Chi Le*", "0911222333", "Hue", "chi@example.vn"),  # trailing punct → STRIPPED, valid
    ("4", "Dung Pham", "123", "Ha Noi", "dung@example.vn"),  # 3-digit phone (+ bad prefix)
    ("5", "Em Vo", "09-1122-3344", "Can Tho", "em@"),  # truncated email; phone fixed
    ("6", "", "0933444555", "Ha Noi", "six@example.vn"),  # blank name
    ("7", "Giang Ho", "0944555666", "ha noi", "giang@EXAMPLE.vn"),  # city canonicalized → valid
    (None, "Hai Vu", "0955666777", "Hue", "hai@example.vn"),  # missing id
    ("007", "Le Thi Bay", "0922333444", "Da Nang", "bay@example.vn"),  # leading-zero id
    ("9", "Test", "0933222111", "Ha Noi", "na@example.vn"),  # placeholder name
    ("10", "Vo Van Muoi", "84911222333", "Ho Chi Minh", "muoi@example.vn"),  # country prefix fixed → valid
    ("11", "Mot Hai", "9999999999", "Sai Gon", "mh@example.vn"),  # repeated-digit phone; Sai Gon canonicalized
    ("12", "Ba Bon", "0911000222", "Mars City", "bb@example.vn"),  # unknown city
    ("13", "Nam Sau", "0911000333", "Da Nang", "ns@mailinator.com"),  # disposable email
    ("14", "Bay Tam", "0912000444", "Hue", "An.Nguyen@example.com"),  # dup email (3rd holder)
    ("15", "B", "0911222444", "Hue", "b15@example.vn"),  # too-short name
    ("16", "A" + "a" * 100, "0911222555", "Can Tho", "long@example.vn"),  # too-long name
    ("0", "Khong Khach", "0911333555", "Ha Noi", "kk@example.vn"),  # non-positive id
]
_KH_CORRUPT_LINE = "8,Broken"  # too few columns → _corrupt_record
_KH_CORRUPT_LINE_NO = len(_KH_ROWS) + 1


def _sql_lit(v: str | None) -> str:
    """None → NULL. Note '' stays '' — createDataFrame fixtures keep
    empty strings; only the CSV reader turns empty fields into NULLs
    (those fixtures use None in the tuple)."""
    if v is None:
        return "NULL"
    return "'" + v.replace("'", "''") + "'"


def _values(rows: list[tuple], extra: str = "") -> str:
    rendered = []
    for i, row in enumerate(rows, start=1):
        cells = ", ".join([str(i)] + [_sql_lit(c) for c in row])
        rendered.append(f"({cells}{extra and ', ' + extra})")
    return ",\n      ".join(rendered)


# ---------------------------------------------------------------------------
# khach_hang: CSV file → permissive scan → transform → rules → first-wins
# ---------------------------------------------------------------------------

# -- DuckDB twin of the 30-rule khach_hang validator ------------------------
# (transform P1 + RuleSet fixes composed per column, checks in rule
# declaration order, two first-wins dedup windows). Shared by the
# pipeline query and the run-history oracle.

_SQL_PLACEHOLDERS = ", ".join(f"'{p}'" for p in PLACEHOLDERS)
_SQL_DISPO = ", ".join(f"'{d}'" for d in DISPOSABLE_DOMAINS)
_SQL_CITIES = ", ".join(f"'{c}'" for c in CITY_DOMAIN)

#: DuckDB rendering of Spark's initcap over a collapsed string
_SQL_TITLE = (
    "array_to_string(list_transform(string_split({x}, ' '),"
    " w -> upper(w[1]) || lower(w[2:])), ' ')"
)


def _blank_or(col: str, pred: str) -> str:
    """SQL twin of quality.if_present."""
    return f"({col} IS NULL OR trim({col}) = '' OR {pred})"


# precomputed SQL fragments (python 3.11 f-string expressions cannot
# contain backslashes — regex-bearing predicates are built out-of-line)
_SQL_NAME_FIXED = (
    "trim(regexp_replace(nullif(trim(regexp_replace(ho_ten, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ''),"
    " '[*#!?.~_-]+$', ''))"
)
_SQL_CITY_FIXED = (
    "nullif(trim(regexp_replace(nullif(trim(thanh_pho), ''), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), '')"
)
_OK_IDN = "regexp_matches(customer_id, '^[0-9]+$')"
_OK_IDCAN = (
    "(NOT regexp_matches(customer_id, '^[0-9]+$')"
    " OR regexp_matches(customer_id, '^(0|[1-9][0-9]*)$'))"
)
_OK_NC = "regexp_matches(ho_ten, '^[\\p{L} ]+$')"
_OK_PHL = "regexp_matches(sdt, '^[0-9]{9,11}$')"
_OK_PHPRE = "regexp_matches(sdt, '^[09]')"
_OK_EMF = (
    "regexp_matches(email,"
    " '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')"
)


def _kh_fixed_checked_sql(values: str) -> str:
    """``raw`` → ``fixed`` → ``checked`` → ``ranked`` CTE chain applying
    the full khach_hang ruleset (operators/entity_rules.py) in SQL."""
    title = _SQL_TITLE.format(x=_SQL_NAME_FIXED)
    city = sql_city_canonical_case(_SQL_CITY_FIXED)
    nph = f"lower(trim(ho_ten)) NOT IN ({_SQL_PLACEHOLDERS})"
    emd = f"split_part(email, '@', 2) NOT IN ({_SQL_DISPO})"
    ctd = f"thanh_pho IN ({_SQL_CITIES})"
    return f"""
    WITH raw(line_no, id, ho_ten, sdt, thanh_pho, email) AS (VALUES
      {values}),
    fixed AS (
      SELECT line_no,
             regexp_replace(trim(id), '^["'']+|["'']+$', '', 'g') AS customer_id,
             {title} AS ho_ten,
             CASE WHEN length(s0) = 11 AND s0 LIKE '84%'
                  THEN '0' || substr(s0, 3) ELSE s0 END AS sdt,
             {city} AS thanh_pho,
             nullif(lower(trim(email)), '') AS email
      FROM (SELECT *, nullif(regexp_replace(sdt, '[^0-9]', '', 'g'), '') AS s0
            FROM raw)),
    checked AS (
      SELECT *,
        (customer_id IS NOT NULL AND trim(customer_id) <> '') AS ok_idp,
        {_blank_or('customer_id', _OK_IDN)} AS ok_idn,
        {_blank_or('customer_id', 'TRY_CAST(customer_id AS BIGINT) > 0')} AS ok_idpos,
        {_blank_or('customer_id', _OK_IDCAN)} AS ok_idcan,
        (ho_ten IS NOT NULL AND trim(ho_ten) <> '') AS ok_nb,
        {_blank_or('ho_ten', _OK_NC)} AS ok_nc,
        {_blank_or('ho_ten', 'length(ho_ten) >= 2')} AS ok_nmin,
        {_blank_or('ho_ten', 'length(ho_ten) <= 100')} AS ok_nmax,
        {_blank_or('ho_ten', nph)} AS ok_nph,
        (sdt IS NOT NULL AND trim(sdt) <> '') AS ok_php,
        {_blank_or('sdt', _OK_PHL)} AS ok_phl,
        {_blank_or('sdt', _OK_PHPRE)} AS ok_phpre,
        {_blank_or('sdt', 'sdt <> repeat(substr(sdt, 1, 1), length(sdt))')} AS ok_phrep,
        (email IS NOT NULL AND trim(email) <> '') AS ok_emp,
        {_blank_or('email', _OK_EMF)} AS ok_emf,
        {_blank_or('email', emd)} AS ok_emd,
        (thanh_pho IS NOT NULL AND trim(thanh_pho) <> '') AS ok_ctp,
        {_blank_or('thanh_pho', ctd)} AS ok_ctd
      FROM fixed),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY customer_id ORDER BY line_no) AS rnk_id,
        (email IS NOT NULL AND
         row_number() OVER (PARTITION BY email ORDER BY line_no) > 1) AS dup_em
      FROM checked)
    """


_KH_OK_ALL = (
    "ok_idp AND ok_idn AND ok_idpos AND ok_idcan AND ok_nb AND ok_nc AND"
    " ok_nmin AND ok_nmax AND ok_nph AND ok_php AND ok_phl AND ok_phpre AND"
    " ok_phrep AND ok_emp AND ok_emf AND ok_emd AND ok_ctp AND ok_ctd"
)

_KH_ERRORS_SQL = """concat_ws(' | ',
        CASE WHEN NOT ok_idp THEN 'missing customer_id' END,
        CASE WHEN NOT ok_idn THEN 'invalid customer_id' END,
        CASE WHEN NOT ok_idpos THEN 'customer_id must be positive' END,
        CASE WHEN NOT ok_idcan THEN 'customer_id has leading zeros' END,
        CASE WHEN NOT ok_nb THEN 'ho_ten is blank' END,
        CASE WHEN NOT ok_nc THEN 'ho_ten has illegal characters' END,
        CASE WHEN NOT ok_nmin THEN 'ho_ten too short' END,
        CASE WHEN NOT ok_nmax THEN 'ho_ten too long' END,
        CASE WHEN NOT ok_nph THEN 'ho_ten is a placeholder' END,
        CASE WHEN NOT ok_php THEN 'missing phone' END,
        CASE WHEN NOT ok_phl THEN 'invalid phone' END,
        CASE WHEN NOT ok_phpre THEN 'invalid phone prefix' END,
        CASE WHEN NOT ok_phrep THEN 'phone is a repeated digit' END,
        CASE WHEN NOT ok_emp THEN 'missing email' END,
        CASE WHEN NOT ok_emf THEN 'invalid email' END,
        CASE WHEN NOT ok_emd THEN 'disposable email domain' END,
        CASE WHEN NOT ok_ctp THEN 'missing thanh_pho' END,
        CASE WHEN NOT ok_ctd THEN 'unknown thanh_pho' END,
        CASE WHEN rnk_id > 1 THEN 'duplicate customer_id' END,
        CASE WHEN dup_em THEN 'duplicate email' END)"""


_KH_ORACLE = (
    _kh_fixed_checked_sql(_values(_KH_ROWS))
    + f"""
    SELECT line_no, customer_id, ho_ten, sdt, thanh_pho, email,
      ({_KH_OK_ALL} AND rnk_id = 1 AND NOT dup_em) AS is_valid,
      {_KH_ERRORS_SQL} AS errors
    FROM ranked
    UNION ALL
    SELECT {_KH_CORRUPT_LINE_NO}, NULL, NULL, NULL, NULL, NULL, false,
           'malformed csv line'
"""
)


@query("khachhang_csv_pipeline", oracle=_KH_ORACLE)
def khachhang_csv_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1→P1→V1/V2/V3 end to end: write the dirty fixture as a real
    BOM-ed CSV, permissive-scan it (malformed line → corrupt capture),
    materialize per-file line numbers, transform, validate with the
    FULL 30-rule khach_hang RuleSet (fix rules included: trailing-punct
    strip, title case, phone country-prefix, city canonicalization),
    then apply BOTH ordered first-wins dedups (id, email). Returns
    every row's verdict. The oracle rebuilds the identical pipeline
    from VALUES."""
    d = run_tmpdir("kh_csv_")
    path = os.path.join(d, "khachhang.csv")
    with open(path, "w", encoding="utf-8-sig") as f:
        f.write("id,ho_ten,sdt,thanh_pho,email\n")
        for row in _KH_ROWS:
            f.write(",".join(c if c is not None else "" for c in row) + "\n")
        f.write(_KH_CORRUPT_LINE + "\n")

    # localCheckpoint (not cache): Spark disallows querying ONLY the
    # corrupt-record column of a raw CSV scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) so the tiny fixture must be
    # materialized for its two readers (corrupt + good branches) — and
    # unlike a CacheManager entry, a checkpointed frame is
    # GC-collectable once the returned plan is dropped
    raw = with_line_numbers(read_entity_csv(spark, path, "khach_hang")).localCheckpoint()
    corrupt = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_line_no").alias("line_no"),
        *[
            F.lit(None).cast("string").alias(c)
            for c in ("customer_id", "ho_ten", "sdt", "thanh_pho", "email")
        ],
        F.lit(False).alias("is_valid"),
        F.lit("malformed csv line").alias("errors"),
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    transformed = transform_khach_hang(good)
    validated = khach_hang_rules().validate(transformed)
    deduped = reject_duplicates(
        validated.drop("_is_valid"),
        ["customer_id"],
        [F.col("_line_no")],
        "duplicate customer_id",
    )
    deduped = reject_duplicates(
        deduped.drop("_is_valid"),
        ["email"],
        [F.col("_line_no")],
        "duplicate email",
        skip_null_keys=True,
    )
    verdicts = deduped.select(
        F.col("_line_no").alias("line_no"),
        "customer_id",
        "ho_ten",
        "sdt",
        "thanh_pho",
        "email",
        F.col("_is_valid").alias("is_valid"),
        F.concat_ws(" | ", "_errors").alias("errors"),
    )
    return verdicts.unionByName(corrupt)


# ---------------------------------------------------------------------------
# mon: dual-source layouts → transform → category lookup (J4) → merge (U1)
# ---------------------------------------------------------------------------

_MON_CSV_ROWS = [
    ("1", "Pho Bo", "45000", "An sang"),
    ("2", "Ca Phe Sua", "", "Do uong"),  # empty price → 0
    ("3", "Banh Mi", "abc", "An sang"),  # unparseable price → 0
    ("4", "Tra Da", "-5000", " do uong "),  # negative; padded category resolves
    ("5", "Banh Kem", "55 000", "Banh ngot!!!"),  # spaced price → 0; junk category
    ("6", "Mi Xao", "60000", "AN SANG"),  # case-insensitive category resolve
    ("7", "Sinh To", "35000", "An khuya"),  # unknown category
]
_LOAI_ROWS = [("1", "An sang"), ("2", "Do uong"), ("3", "Banh ngot")]
_MON_SQL_ROWS = [
    ("Com Tam", "1", "65000"),
    ("Nuoc Cam", "2", "30000"),
    ("Banh Quy", "3", "25000"),
]

_MON_ORACLE = f"""
    WITH mon_csv(line_no, id, ten_san_pham, gia, loai) AS (VALUES
      {_values(_MON_CSV_ROWS)}),
    loai_mon(line_no, ma_loai, ten_loai) AS (VALUES
      {_values(_LOAI_ROWS)}),
    mon_sql(line_no, ten_mon, loai_id, gia) AS (VALUES
      {_values(_MON_SQL_ROWS)}),
    csv_tr AS (
      SELECT trim(m.ten_san_pham) AS ten_mon,
             CAST(d.ma_loai AS INT) AS loai_id,
             coalesce(TRY_CAST(m.gia AS DOUBLE), 0.0) AS gia,
             (coalesce(TRY_CAST(m.gia AS DOUBLE), 0.0) > 0
              AND coalesce(TRY_CAST(m.gia AS DOUBLE), 0.0) <= 10000000) AS price_ok
      FROM mon_csv m
      LEFT JOIN loai_mon d
        ON regexp_replace(lower(trim(regexp_replace(m.loai, '[_-]', ' ', 'g'))), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')
         = regexp_replace(lower(trim(regexp_replace(d.ten_loai, '[_-]', ' ', 'g'))), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')),
    sql_tr AS (
      SELECT trim(ten_mon) AS ten_mon, CAST(loai_id AS INT) AS loai_id,
             coalesce(TRY_CAST(gia AS DOUBLE), 0.0) AS gia,
             (coalesce(TRY_CAST(gia AS DOUBLE), 0.0) > 0
              AND coalesce(TRY_CAST(gia AS DOUBLE), 0.0) <= 10000000) AS price_ok
      FROM mon_sql)
    SELECT 'CSV' AS source, ten_mon, loai_id, gia,
           (price_ok AND loai_id IS NOT NULL) AS is_valid FROM csv_tr
    UNION ALL
    SELECT 'SQL', ten_mon, loai_id, gia,
           (price_ok AND loai_id IS NOT NULL) AS is_valid FROM sql_tr
"""


@query("mon_dual_source_merge", oracle=_MON_ORACLE)
def mon_dual_source_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 dual-layout adapter + J4 deferred category-name→id broadcast
    lookup + U1 merged view with source tag, then mon rules (price
    positivity) + resolved-category check. The CSV layout carries the
    category NAME (dirty variants); the SQL layout carries the id."""
    csv_raw = spark.createDataFrame(
        _MON_CSV_ROWS, "id string, ten_san_pham string, gia string, loai string"
    )
    loai_dim = spark.createDataFrame(_LOAI_ROWS, "ma_loai string, ten_loai string")
    sql_raw = spark.createDataFrame(
        _MON_SQL_ROWS, "ten_mon string, loai_id string, gia string"
    )
    looked = category_lookup(csv_raw, loai_dim, "loai", "ten_loai", "ma_loai")
    csv_tr = transform_mon(looked).withColumn(
        "loai_id", F.coalesce(F.col("loai_id"), F.col("_dim_id").cast("int"))
    ).drop("_dim_id")
    sql_tr = transform_mon(sql_raw)
    merged = merged_view({"CSV": csv_tr, "SQL": sql_tr})
    validated = mon_rules().validate(merged)
    return validated.select(
        "source",
        "ten_mon",
        "loai_id",
        "gia",
        (F.col("_is_valid") & F.col("loai_id").isNotNull()).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# mon_csv: the per-SOURCE rule variant over the raw CSV layout (doc
# inventory mon_csv 12; routing evidence main.py:674-681) — price dirt
# and category dirt from FIXTURES.md §A3 (tensanpham.csv:88-101)
# ---------------------------------------------------------------------------

_MON_CSV_DIRTY = [
    ("1", "Pho Bo", "45000", "An sang"),  # valid
    ("2", "Ca Phe Sua", "", "Do uong"),  # empty price → 0, rejected
    ("3", "Banh Mi", "abc", "An sang"),  # unparseable
    ("4", "Tra Da", "-345", "do uong"),  # negative
    ("5", "Banh Kem", "50 000", "Banh ngot"),  # space-grouped → unparseable
    ("6", "Mi Xao", "abc100", "AN SANG"),  # unparseable; case-variant category
    ("7", "Sinh To", "0", "An khuya"),  # zero price
    ("8", "Com Ga", "???", "An trua"),  # junk price
    ("9", "!!!", "30000", "An sang"),  # no letters in name
    ("10", "123", "30000", "An sang"),  # digits-only name
    ("11", "B", "30000", "An sang"),  # too-short name
    ("12", "Banh Bao", "30000", ""),  # blank category
    ("", "Tra Sua", "25000", "Do uong"),  # EMPTY id is legal (doc: có thể rỗng)
    ("x1", "Ca Phe Den", "20000", "Do uong"),  # non-numeric id
    ("14", "Xoi Ga", "25000000", "An sang"),  # price over ceiling
    ("15", "Che  Dau ", "15000", "An_sang"),  # collapse fix; underscore category fix
    ("16", "Pho Ga", "35000", "An- sang"),  # hyphen+space category fix
]

_OK_NLET = "regexp_matches(ten_san_pham, '\\p{L}')"

_MON_CSV_QUALITY_ORACLE = f"""
    WITH raw(line_no, id, ten_san_pham, gia, loai) AS (VALUES
      {_values(_MON_CSV_DIRTY)}),
    fixed AS (
      SELECT line_no,
             trim(id) AS id,
             nullif(trim(regexp_replace(ten_san_pham, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), '')
               AS ten_san_pham,
             gia,
             nullif(trim(regexp_replace(
               regexp_replace(lower(loai), '[_-]', ' ', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), '')
               AS loai
      FROM raw),
    checked AS (
      SELECT *,
        {_blank_or('id', "regexp_matches(id, '^[0-9]+$')")} AS ok_id,
        (ten_san_pham IS NOT NULL AND trim(ten_san_pham) <> '') AS ok_np,
        {_blank_or('ten_san_pham', 'length(ten_san_pham) >= 2')} AS ok_nmin,
        {_blank_or('ten_san_pham', 'length(ten_san_pham) <= 200')} AS ok_nmax,
        {_blank_or('ten_san_pham', _OK_NLET)} AS ok_nlet,
        {_blank_or('gia', 'TRY_CAST(gia AS DOUBLE) IS NOT NULL')} AS ok_gp,
        (coalesce(TRY_CAST(gia AS DOUBLE), 0.0) > 0) AS ok_gpos,
        {_blank_or('gia', 'coalesce(TRY_CAST(gia AS DOUBLE), 0.0) <= 10000000')} AS ok_gc,
        (loai IS NOT NULL AND trim(loai) <> '') AS ok_cp
      FROM fixed)
    SELECT line_no, id, ten_san_pham, gia, loai,
      (ok_id AND ok_np AND ok_nmin AND ok_nmax AND ok_nlet
       AND ok_gp AND ok_gpos AND ok_gc AND ok_cp) AS is_valid,
      concat_ws(' | ',
        CASE WHEN NOT ok_id THEN 'invalid id' END,
        CASE WHEN NOT ok_np THEN 'ten_san_pham is blank' END,
        CASE WHEN NOT ok_nmin THEN 'ten_san_pham too short' END,
        CASE WHEN NOT ok_nmax THEN 'ten_san_pham too long' END,
        CASE WHEN NOT ok_nlet THEN 'ten_san_pham has no letters' END,
        CASE WHEN NOT ok_gp THEN 'gia unparseable' END,
        CASE WHEN NOT ok_gpos THEN 'gia must be > 0' END,
        CASE WHEN NOT ok_gc THEN 'gia implausibly large' END,
        CASE WHEN NOT ok_cp THEN 'loai is blank' END) AS errors
    FROM checked
"""


@query("mon_csv_quality", oracle=_MON_CSV_QUALITY_ORACLE)
def mon_csv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mon_csv per-source rule variant (12-rule inventory) over the
    raw CSV layout — validates BEFORE the category name→id lookup, so
    price parseability is still observable (post-transform the default-0
    hides which zeros were dirt) and the category is the raw NAME with
    its underscore/hyphen/case variants normalized by the fix rule.
    Every A3 dirty-price and dirty-category pattern gets a verdict."""
    rows = [(i + 1, *r) for i, r in enumerate(_MON_CSV_DIRTY)]
    raw = spark.createDataFrame(
        rows, "line_no int, id string, ten_san_pham string, gia string, loai string"
    )
    validated = mon_csv_rules().validate(raw)
    return validated.select(
        "line_no",
        "id",
        "ten_san_pham",
        "gia",
        "loai",
        F.col("_is_valid").alias("is_valid"),
        F.concat_ws(" | ", "_errors").alias("errors"),
    )


# ---------------------------------------------------------------------------
# khach_hang golden records: survivorship sharing the SAME canonical
# city dimension the rule engine's fix uses (operators/canonical.py)
# ---------------------------------------------------------------------------

_KH_GOLDEN_TITLE = _SQL_TITLE.format(x=_SQL_NAME_FIXED)
_KH_GOLDEN_CITY = sql_city_canonical_case(_SQL_CITY_FIXED)

_KH_GOLDEN_ORACLE = f"""
    WITH raw(line_no, id, ho_ten, sdt, thanh_pho, email) AS (VALUES
      {_values(_KH_ROWS)}),
    fixed AS (
      SELECT line_no,
             regexp_replace(trim(id), '^["'']+|["'']+$', '', 'g') AS customer_id,
             {_KH_GOLDEN_TITLE} AS ho_ten,
             {_KH_GOLDEN_CITY} AS thanh_pho
      FROM raw)
    SELECT customer_id,
           min_by(ho_ten, line_no) AS golden_name,
           min_by(thanh_pho, line_no) AS golden_city,
           COUNT(*) AS n_members
    FROM fixed
    WHERE customer_id IS NOT NULL
      AND regexp_matches(customer_id, '^(0|[1-9][0-9]*)$')
      AND TRY_CAST(customer_id AS BIGINT) > 0
    GROUP BY customer_id
"""


@query("khachhang_golden_records", oracle=_KH_GOLDEN_ORACLE)
def khachhang_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVIVORSHIP over the customer fixture using the SHARED canonical
    city dimension (operators/canonical.city_canonical_dim — the same
    mapping the rule engine's city_canonicalize fix compiles to a map
    literal): duplicate ids merge into one golden record, first-wins
    attributes by ingestion order, and the surviving city comes from a
    BROADCAST join against the dimension (the join form scales to any
    fact size; the dim is city-vocabulary-sized). The oracle applies the
    identical mapping as a CASE — dim join and map fix must agree on
    every row or the hash fails."""
    rows = [(i + 1, *r) for i, r in enumerate(_KH_ROWS)]
    raw = spark.createDataFrame(
        rows,
        "line_no int, id string, ho_ten string, sdt string, thanh_pho string,"
        " email string",
    )
    tr = transform_khach_hang(raw.withColumn("_line_no", F.col("line_no")))
    # keep the PRE-fix city so the dim join (not the map fix) resolves it
    tr = tr.withColumn("_raw_city", F.col("thanh_pho"))
    fixed = khach_hang_rules().apply_fixes(tr)
    dim = city_canonical_dim(spark)
    collapsed = F.trim(F.regexp_replace(F.col("_raw_city"), r"\s+", " "))
    joined = fixed.join(
        F.broadcast(dim), F.lower(collapsed) == F.col("variant"), "left"
    ).withColumn(
        "city_resolved",
        F.coalesce(F.col("canonical"), F.when(collapsed != "", collapsed)),
    )
    good_ids = joined.filter(
        F.col("customer_id").isNotNull()
        & F.col("customer_id").rlike(r"^(0|[1-9][0-9]*)$")
        & (F.col("customer_id").try_cast("long") > 0)
    )
    return good_ids.groupBy("customer_id").agg(
        F.min_by("ho_ten", "_line_no").alias("golden_name"),
        F.min_by("city_resolved", "_line_no").alias("golden_city"),
        F.count(F.lit(1)).alias("n_members"),
    )


# ---------------------------------------------------------------------------
# dat_hang: transform → rules → FK existence joins (V4/J3)
# ---------------------------------------------------------------------------

_DH_ROWS = [
    ("1", "1", "1", "2", "2024-01-05", "NEW"),
    ("2", "7", "6", "1", "2024-01-06", "DONE"),
    ("3", "99", "1", "3", "2024-01-07", "CONFIRMED"),  # unknown customer
    ("4", "1", "42", "1", "2024-01-08", "NEW"),  # unknown item
    ("5", "7", "1", "0", "2024-01-09", "DONE"),  # qty 0
    ("6", "1", "6", "2", "2024-01-10", "SHIPPED"),  # unknown status
    ("7", "", "1", "1", "2024-01-11", "NEW"),  # missing customer ref
    ("8", "7", "6", "x", "bad-date", "CANCELLED"),  # qty+date unparseable
]
_DH_CUSTOMERS = ["1", "7"]
_DH_ITEMS = ["1", "6"]

_DH_ORACLE = f"""
    WITH raw(line_no, id, khach_hang_id, mon_id, so_luong, ngay_dat, trang_thai) AS (VALUES
      {_values(_DH_ROWS)}),
    dim_kh(khach_hang_id) AS (VALUES {', '.join(f"('{c}')" for c in _DH_CUSTOMERS)}),
    dim_mon(mon_id) AS (VALUES {', '.join(f"('{c}')" for c in _DH_ITEMS)}),
    tr AS (
      SELECT line_no, id, khach_hang_id, mon_id,
             coalesce(TRY_CAST(so_luong AS INT), 0) AS so_luong,
             TRY_CAST(ngay_dat AS DATE) AS ngay_dat,
             nullif(trim(trang_thai), '') AS trang_thai
      FROM raw),
    checked AS (
      SELECT t.*,
        (t.khach_hang_id IS NOT NULL AND trim(t.khach_hang_id) <> '') AS ok_cref,
        (t.mon_id IS NOT NULL AND trim(t.mon_id) <> '') AS ok_iref,
        (t.so_luong > 0) AS ok_qty,
        (t.trang_thai IN ('NEW','CONFIRMED','DONE','CANCELLED')) AS ok_status,
        (t.ngay_dat IS NOT NULL) AS ok_date,
        (k.khach_hang_id IS NOT NULL) AS ok_fk_c,
        (m.mon_id IS NOT NULL) AS ok_fk_i
      FROM tr t
      LEFT JOIN dim_kh k ON t.khach_hang_id = k.khach_hang_id
      LEFT JOIN dim_mon m ON t.mon_id = m.mon_id)
    SELECT id AS order_id, khach_hang_id, mon_id, so_luong, ngay_dat, trang_thai,
      (ok_cref AND ok_iref AND ok_qty AND ok_status AND ok_date
       AND ok_fk_c AND ok_fk_i) AS is_valid,
      concat_ws(' | ',
        CASE WHEN NOT ok_cref THEN 'khach_hang_id missing' END,
        CASE WHEN NOT ok_iref THEN 'mon_id missing' END,
        CASE WHEN NOT ok_qty THEN 'so_luong must be > 0' END,
        CASE WHEN NOT ok_status THEN 'unknown trang_thai' END,
        CASE WHEN NOT ok_date THEN 'ngay_dat missing/unparseable' END,
        CASE WHEN NOT ok_fk_c THEN 'unknown khach_hang_id' END,
        CASE WHEN NOT ok_fk_i THEN 'unknown mon_id' END) AS errors
    FROM checked
"""


@query("dathang_fk_validation", oracle=_DH_ORACLE)
def dathang_fk_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 transform → dat_hang rules → V4 FK existence via broadcast
    left joins against the customer/item key dims, error-annotated
    (rows are KEPT with messages — the reject-whole-row policy applies
    at the split, not the check)."""
    raw = spark.createDataFrame(
        _DH_ROWS,
        "id string, khach_hang_id string, mon_id string, so_luong string,"
        " ngay_dat string, trang_thai string",
    )
    dim_kh = spark.createDataFrame([(c,) for c in _DH_CUSTOMERS], "khach_hang_id string")
    dim_mon = spark.createDataFrame([(c,) for c in _DH_ITEMS], "mon_id string")
    tr = transform_dat_hang(raw)
    validated = dat_hang_rules().validate(tr).drop("_is_valid")
    with_c = fk_exists(validated, "khach_hang_id", dim_kh, "khach_hang_id", "unknown khach_hang_id")
    with_i = fk_exists(with_c.drop("_is_valid"), "mon_id", dim_mon, "mon_id", "unknown mon_id")
    return with_i.select(
        F.col("ma_don_hang").alias("order_id"),
        "khach_hang_id",
        "mon_id",
        "so_luong",
        "ngay_dat",
        "trang_thai",
        F.col("_is_valid").alias("is_valid"),
        F.concat_ws(" | ", "_errors").alias("errors"),
    )


# ---------------------------------------------------------------------------
# nguyen_lieu: transform → inventory fact rollup (A6)
# ---------------------------------------------------------------------------

_NL_ROWS = [
    ("1", "Ca phe hat", "25", "kg", "180000", "2024-01-03"),
    ("2", "Sua dac", "40", "hop", "22000", "2024-01-03"),
    ("3", "Duong", "", "kg", "18000", "2024-01-04"),  # missing qty → 0
    ("4", "Tra xanh", "12", "goi", "35000", "2024-01-04"),
    ("5", "Bot ca cao", "8", "chai", "95000", "2024-01-05"),
]

_NL_ORACLE = f"""
    WITH raw(line_no, id, ten_nguyen_lieu, so_luong, don_vi, gia, ngay_nhap) AS (VALUES
      {_values(_NL_ROWS)}),
    tr AS (
      SELECT TRY_CAST(ngay_nhap AS DATE) AS ngay_nhap,
             coalesce(TRY_CAST(so_luong AS DOUBLE), 0.0) AS so_luong,
             coalesce(TRY_CAST(gia AS DOUBLE), 0.0) AS gia
      FROM raw)
    SELECT ngay_nhap, COUNT(*) AS n_items,
           {SQL_DSUM('so_luong', 'total_qty', 2)},
           {SQL_DSUM('so_luong * gia', 'tong_gia_tri', 2)}
    FROM tr GROUP BY ngay_nhap
"""


@query("nguyenlieu_inventory_fact", oracle=_NL_ORACLE)
def nguyenlieu_inventory_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 transform → A6 inventory-fact rollup per receipt date
    (fact_kho_nguyen_lieu, create_dwh_tables.sql:180-206): stock
    quantity and total value = Σ qty×price."""
    raw = spark.createDataFrame(
        _NL_ROWS,
        "id string, ten_nguyen_lieu string, so_luong string, don_vi string,"
        " gia string, ngay_nhap string",
    )
    tr = transform_nguyen_lieu(raw)
    return tr.groupBy("ngay_nhap").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("so_luong"), "total_qty", 2),
        dsum(F.col("so_luong") * F.col("gia"), "tong_gia_tri", 2),
    )


# ---------------------------------------------------------------------------
# nguyen_lieu: full S1→P2→V1 dirty-CSV pipeline (17-rule inventory,
# end-to-end — the khachhang_csv_pipeline discipline for ingredients)
# ---------------------------------------------------------------------------

_NL_DIRTY = [
    ("1", "Gao Tam", "25.5", "kg", "18000", "2024-01-05"),  # valid
    ("2", "Ca  Phe   Hat ", "12", "KG", "95000", "2024-01-06"),  # collapse+unit-case fixes → valid
    ("x3", "Duong", "5", "kg", "20000", "2024-01-07"),  # non-numeric id
    ("4", "", "3", "g", "1000", "2024-01-08"),  # blank name
    ("5", "S", "2", "kg", "9000", "2024-01-08"),  # name too short
    ("6", "Muoi@#", "1", "kg", "5000", "2024-01-09"),  # illegal chars in name
    ("7", "Gao loai 1", "10", "kg", "17000", "2024-01-10"),  # digits legal in ingredient names
    ("8", "Tieu Den", "-4", "kg", "30000", "2024-01-11"),  # negative qty
    ("9", "Hanh Kho", "abc", "kg", "12000", "2024-01-12"),  # unparseable qty → default 0, passes
    ("10", "Bot Mi", "2000000", "kg", "15000", "2024-01-13"),  # qty over ceiling
    ("11", "Dau An", "1.0625", "l", "42000", "2024-01-14"),  # 4 binary-exact decimals → excess precision
    ("12", "Nuoc Mam", "6", "", "35000", "2024-01-15"),  # missing unit
    ("13", "Tuong Ot", "7", "bottle", "22000", "2024-01-16"),  # unknown unit
    ("14", "Bo Lat", "3.25", "hop", "48000", "2024-01-17"),  # 2 decimals, valid
    (None, "Sua Dac", "8", "lo", "28000", "2024-01-18"),  # missing id
]
_NL_CORRUPT_LINE = "16,Broken"
_NL_CORRUPT_LINE_NO = len(_NL_DIRTY) + 1

_SQL_NL_NAME = (
    "nullif(trim(regexp_replace(nullif(trim(ten_nguyen_lieu), ''),"
    " '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), '')"
)
_OK_NL_NCH = "regexp_matches(ten_nguyen_lieu, '^[\\p{L}0-9 ]+$')"
_SQL_UNITS = ", ".join(f"'{u}'" for u in UNITS)

_NL_QUALITY_ORACLE = f"""
    WITH raw(line_no, id, ten_nguyen_lieu, so_luong, don_vi, gia, ngay_nhap) AS (VALUES
      {_values(_NL_DIRTY)}),
    fixed AS (
      SELECT line_no,
             trim(id) AS ma_nguyen_lieu,
             {_SQL_NL_NAME} AS ten_nguyen_lieu,
             coalesce(TRY_CAST(so_luong AS DOUBLE), 0.0) AS so_luong,
             nullif(lower(trim(don_vi)), '') AS don_vi,
             coalesce(TRY_CAST(gia AS DOUBLE), 0.0) AS gia,
             TRY_CAST(ngay_nhap AS DATE) AS ngay_nhap
      FROM raw),
    checked AS (
      SELECT *,
        (ma_nguyen_lieu IS NOT NULL
         AND regexp_matches(ma_nguyen_lieu, '^[0-9]+$')) AS ok_idn,
        (ten_nguyen_lieu IS NOT NULL AND trim(ten_nguyen_lieu) <> '') AS ok_np,
        {_blank_or('ten_nguyen_lieu', 'length(ten_nguyen_lieu) >= 2')} AS ok_nmin,
        {_blank_or('ten_nguyen_lieu', _OK_NL_NCH)} AS ok_nch,
        {_blank_or('ten_nguyen_lieu', 'length(ten_nguyen_lieu) <= 200')} AS ok_nmax,
        (so_luong IS NOT NULL) AS ok_qp,
        (so_luong IS NULL OR so_luong >= 0) AS ok_qnn,
        (so_luong IS NULL OR so_luong <= 1000000) AS ok_qc,
        (so_luong IS NULL OR
         abs(so_luong * 1000 - round(so_luong * 1000, 0)) < 1e-6) AS ok_qprec,
        (don_vi IS NOT NULL AND trim(don_vi) <> '') AS ok_up,
        {_blank_or('don_vi', f'don_vi IN ({_SQL_UNITS})')} AS ok_ud
      FROM fixed)
    SELECT line_no, ma_nguyen_lieu, ten_nguyen_lieu, so_luong, don_vi, gia,
           ngay_nhap,
      (ok_idn AND ok_np AND ok_nmin AND ok_nch AND ok_nmax AND ok_qp
       AND ok_qnn AND ok_qc AND ok_qprec AND ok_up AND ok_ud) AS is_valid,
      concat_ws(' | ',
        CASE WHEN NOT ok_idn THEN 'invalid ma_nguyen_lieu' END,
        CASE WHEN NOT ok_np THEN 'ten_nguyen_lieu is blank' END,
        CASE WHEN NOT ok_nmin THEN 'ten_nguyen_lieu too short' END,
        CASE WHEN NOT ok_nch THEN 'ten_nguyen_lieu has illegal characters' END,
        CASE WHEN NOT ok_nmax THEN 'ten_nguyen_lieu too long' END,
        CASE WHEN NOT ok_qp THEN 'so_luong missing' END,
        CASE WHEN NOT ok_qnn THEN 'so_luong negative' END,
        CASE WHEN NOT ok_qc THEN 'so_luong implausibly large' END,
        CASE WHEN NOT ok_qprec THEN 'so_luong has excess precision' END,
        CASE WHEN NOT ok_up THEN 'missing don_vi' END,
        CASE WHEN NOT ok_ud THEN 'unknown don_vi' END) AS errors
    FROM checked
    UNION ALL
    SELECT {_NL_CORRUPT_LINE_NO}, NULL, NULL, CAST(NULL AS DOUBLE), NULL,
           CAST(NULL AS DOUBLE), CAST(NULL AS DATE), false,
           'malformed csv line'
"""


@query("nguyenlieu_csv_quality", oracle=_NL_QUALITY_ORACLE)
def nguyenlieu_csv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1→P2→V1 end to end for nguyen_lieu: dirty fixture written as a
    real BOM-ed CSV, permissive scan (malformed line → corrupt
    capture), per-file line numbers, P2 transform (numeric defaults,
    date try-parse), then the FULL 17-rule ingredient RuleSet —
    collapse/unit-normalize fixes, digit-legal name charset,
    non-negative/ceiling/precision quantity checks, unit domain. The
    supplier rules are if-present and the raw CSV layout drops
    nha_cung_cap (FIXTURES.md §A4), so they pass as NULL — exactly the
    staging behavior. Every row gets a verdict; the oracle rebuilds the
    identical pipeline from VALUES."""
    d = run_tmpdir("nl_csv_")
    path = os.path.join(d, "nguyenlieu.csv")
    with open(path, "w", encoding="utf-8-sig") as f:
        f.write("id,ten_nguyen_lieu,so_luong,don_vi,gia,ngay_nhap\n")
        for row in _NL_DIRTY:
            f.write(",".join(c if c is not None else "" for c in row) + "\n")
        f.write(_NL_CORRUPT_LINE + "\n")

    # localCheckpoint, not cache — see the khach_hang twin's note
    raw = with_line_numbers(read_entity_csv(spark, path, "nguyen_lieu")).localCheckpoint()
    corrupt = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_line_no").alias("line_no"),
        F.lit(None).cast("string").alias("ma_nguyen_lieu"),
        F.lit(None).cast("string").alias("ten_nguyen_lieu"),
        F.lit(None).cast("double").alias("so_luong"),
        F.lit(None).cast("string").alias("don_vi"),
        F.lit(None).cast("double").alias("gia"),
        F.lit(None).cast("date").alias("ngay_nhap"),
        F.lit(False).alias("is_valid"),
        F.lit("malformed csv line").alias("errors"),
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    validated = nguyen_lieu_rules().validate(transform_nguyen_lieu(good))
    verdicts = validated.select(
        F.col("_line_no").alias("line_no"),
        "ma_nguyen_lieu",
        "ten_nguyen_lieu",
        "so_luong",
        "don_vi",
        "gia",
        "ngay_nhap",
        F.col("_is_valid").alias("is_valid"),
        F.concat_ws(" | ", "_errors").alias("errors"),
    )
    return verdicts.unionByName(corrupt)


# ---------------------------------------------------------------------------
# dat_hang: full S1→P5→V1 dirty-CSV pipeline (20-rule inventory incl.
# the relational legs: first-wins id dedup + both FK existence joins)
# ---------------------------------------------------------------------------

_DH_DIRTY = [
    ("1", "1", "1", "2", "2024-01-05", "new"),  # status case fix → valid
    ("1", "7", "6", "1", "2024-01-06", "DONE"),  # duplicate ma_don_hang
    ("x3", "1", "1", "1", "2024-01-07", "NEW"),  # non-numeric id
    ("4", "99", "1", "1", "2024-01-08", "NEW"),  # unknown customer FK
    ("5", "1", "42", "1", "2024-01-08", "CONFIRMED"),  # unknown item FK
    ("6", None, "1", "1", "2024-01-09", "DONE"),  # missing customer ref
    ("7", "abc", "1", "1", "2024-01-10", "NEW"),  # non-numeric customer ref
    ("8", "7", "6", "0", "2024-01-11", "NEW"),  # qty 0
    ("9", "1", "1", "x", "2024-01-12", "DONE"),  # qty unparseable → 0
    ("10", "7", "1", "5000", "2024-01-13", "NEW"),  # qty over ceiling
    ("11", "1", "6", "2", "1999-12-31", "NEW"),  # date before 2000
    ("12", "7", "6", "1", "2031-05-05", "DONE"),  # date in the future
    ("13", "1", "1", "3", "1970-01-01", "NEW"),  # epoch-default date
    ("14", "7", "6", "1", "bad-date", "CONFIRMED"),  # unparseable date
    ("15", "1", "1", "2", "2024-02-01", "SHIPPED"),  # unknown status
    ("16", "7", "6", "1", "2024-02-02", None),  # missing status
    ("17", "1", "1", "1", "2024-02-03", " done "),  # trim+case fix → valid
]
_DH_CORRUPT_LINE = "18,Broken"
_DH_CORRUPT_LINE_NO = len(_DH_DIRTY) + 1

_DH_QUALITY_ORACLE = f"""
    WITH raw(line_no, id, khach_hang_id, mon_id, so_luong, ngay_dat, trang_thai) AS (VALUES
      {_values(_DH_DIRTY)}),
    dim_kh(k) AS (VALUES {', '.join(f"('{c}')" for c in _DH_CUSTOMERS)}),
    dim_mon(m) AS (VALUES {', '.join(f"('{c}')" for c in _DH_ITEMS)}),
    fixed AS (
      SELECT line_no,
             trim(id) AS ma_don_hang,
             khach_hang_id, mon_id,
             coalesce(TRY_CAST(so_luong AS INT), 0) AS so_luong,
             TRY_CAST(ngay_dat AS DATE) AS ngay_dat,
             nullif(upper(trim(trang_thai)), '') AS trang_thai
      FROM raw),
    checked AS (
      SELECT f.*,
        (f.ma_don_hang IS NOT NULL
         AND regexp_matches(f.ma_don_hang, '^[0-9]+$')) AS ok_idn,
        (f.khach_hang_id IS NOT NULL AND trim(f.khach_hang_id) <> '') AS ok_crp,
        {_blank_or('f.khach_hang_id', "regexp_matches(f.khach_hang_id, '^[0-9]+$')")} AS ok_crn,
        (f.mon_id IS NOT NULL AND trim(f.mon_id) <> '') AS ok_irp,
        {_blank_or('f.mon_id', "regexp_matches(f.mon_id, '^[0-9]+$')")} AS ok_irn,
        (f.so_luong IS NOT NULL) AS ok_qp,
        (f.so_luong IS NOT NULL AND f.so_luong > 0) AS ok_qpos,
        (f.so_luong IS NULL OR f.so_luong <= 1000) AS ok_qc,
        (f.ngay_dat IS NOT NULL) AS ok_dp,
        (f.ngay_dat IS NULL OR f.ngay_dat >= DATE '2000-01-01') AS ok_dold,
        (f.ngay_dat IS NULL OR f.ngay_dat <= DATE '2030-12-31') AS ok_dfut,
        (f.ngay_dat IS NULL OR f.ngay_dat <> DATE '1970-01-01') AS ok_depo,
        (f.trang_thai IS NOT NULL AND trim(f.trang_thai) <> '') AS ok_sp,
        {_blank_or('f.trang_thai', "f.trang_thai IN ('NEW','CONFIRMED','DONE','CANCELLED')")} AS ok_sd,
        (k.k IS NOT NULL) AS ok_fkc,
        (m.m IS NOT NULL) AS ok_fki,
        row_number() OVER (PARTITION BY f.ma_don_hang ORDER BY f.line_no) AS rnk
      FROM fixed f
      LEFT JOIN dim_kh k ON f.khach_hang_id = k.k
      LEFT JOIN dim_mon m ON f.mon_id = m.m)
    SELECT line_no, ma_don_hang, khach_hang_id, mon_id, so_luong, ngay_dat,
           trang_thai,
      (ok_idn AND ok_crp AND ok_crn AND ok_irp AND ok_irn AND ok_qp
       AND ok_qpos AND ok_qc AND ok_dp AND ok_dold AND ok_dfut AND ok_depo
       AND ok_sp AND ok_sd AND rnk = 1 AND ok_fkc AND ok_fki) AS is_valid,
      concat_ws(' | ',
        CASE WHEN NOT ok_idn THEN 'invalid ma_don_hang' END,
        CASE WHEN NOT ok_crp THEN 'khach_hang_id missing' END,
        CASE WHEN NOT ok_crn THEN 'khach_hang_id not numeric' END,
        CASE WHEN NOT ok_irp THEN 'mon_id missing' END,
        CASE WHEN NOT ok_irn THEN 'mon_id not numeric' END,
        CASE WHEN NOT ok_qp THEN 'so_luong missing' END,
        CASE WHEN NOT ok_qpos THEN 'so_luong must be > 0' END,
        CASE WHEN NOT ok_qc THEN 'so_luong implausibly large' END,
        CASE WHEN NOT ok_dp THEN 'ngay_dat missing/unparseable' END,
        CASE WHEN NOT ok_dold THEN 'ngay_dat before 2000' END,
        CASE WHEN NOT ok_dfut THEN 'ngay_dat in the future' END,
        CASE WHEN NOT ok_depo THEN 'ngay_dat is the epoch default' END,
        CASE WHEN NOT ok_sp THEN 'trang_thai missing' END,
        CASE WHEN NOT ok_sd THEN 'unknown trang_thai' END,
        CASE WHEN rnk > 1 THEN 'duplicate ma_don_hang' END,
        CASE WHEN NOT ok_fkc THEN 'unknown khach_hang_id' END,
        CASE WHEN NOT ok_fki THEN 'unknown mon_id' END) AS errors
    FROM checked
    UNION ALL
    SELECT {_DH_CORRUPT_LINE_NO}, NULL, NULL, NULL, CAST(NULL AS INT),
           CAST(NULL AS DATE), NULL, false, 'malformed csv line'
"""


@query("dathang_csv_quality", oracle=_DH_QUALITY_ORACLE)
def dathang_csv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1→P5→V1 end to end for dat_hang — the full 20-rule order
    validator INCLUDING its relational legs, driven from a real dirty
    CSV: permissive scan with corrupt capture, P5 transform (int/date
    defaults, status normalize), the 15 row-level checks, ordered
    first-wins id dedup (V2), and BOTH broadcast FK existence joins
    (V4) against the customer/item key dims. qty_integer can never fire
    post-transform (P5 casts to int) — it exists for the SQL-sourced
    layout where so_luong arrives numeric; the oracle therefore carries
    its 17 observable verdicts. Message order = rule declaration order,
    then dedup, then FKs — exactly the engine's append order."""
    d = run_tmpdir("dh_csv_")
    path = os.path.join(d, "dathang.csv")
    with open(path, "w", encoding="utf-8-sig") as f:
        f.write("id,khach_hang_id,mon_id,so_luong,ngay_dat,trang_thai\n")
        for row in _DH_DIRTY:
            f.write(",".join(c if c is not None else "" for c in row) + "\n")
        f.write(_DH_CORRUPT_LINE + "\n")

    # localCheckpoint, not cache — see the khach_hang twin's note
    raw = with_line_numbers(read_entity_csv(spark, path, "dat_hang")).localCheckpoint()
    corrupt = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_line_no").alias("line_no"),
        F.lit(None).cast("string").alias("ma_don_hang"),
        F.lit(None).cast("string").alias("khach_hang_id"),
        F.lit(None).cast("string").alias("mon_id"),
        F.lit(None).cast("int").alias("so_luong"),
        F.lit(None).cast("date").alias("ngay_dat"),
        F.lit(None).cast("string").alias("trang_thai"),
        F.lit(False).alias("is_valid"),
        F.lit("malformed csv line").alias("errors"),
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    validated = dat_hang_rules().validate(transform_dat_hang(good))
    deduped = reject_duplicates(
        validated.drop("_is_valid"),
        ["ma_don_hang"],
        [F.col("_line_no")],
        "duplicate ma_don_hang",
    )
    dim_kh = spark.createDataFrame(
        [(c,) for c in _DH_CUSTOMERS], "khach_hang_id string"
    )
    dim_mon = spark.createDataFrame([(c,) for c in _DH_ITEMS], "mon_id string")
    with_c = fk_exists(
        deduped.drop("_is_valid"),
        "khach_hang_id",
        dim_kh,
        "khach_hang_id",
        "unknown khach_hang_id",
    )
    with_i = fk_exists(
        with_c.drop("_is_valid"), "mon_id", dim_mon, "mon_id", "unknown mon_id"
    )
    verdicts = with_i.select(
        F.col("_line_no").alias("line_no"),
        "ma_don_hang",
        "khach_hang_id",
        "mon_id",
        "so_luong",
        "ngay_dat",
        "trang_thai",
        F.col("_is_valid").alias("is_valid"),
        F.concat_ws(" | ", "_errors").alias("errors"),
    )
    return verdicts.unionByName(corrupt)


# ---------------------------------------------------------------------------
# Run-history lineage (A4 across runs): two full pipeline runs land in
# one queryable history table; the oracle recomputes both runs' zone
# counts from the same fixture VALUES.
# ---------------------------------------------------------------------------

_KH_ROWS_RUN2 = _KH_ROWS[:5]  # second run: a smaller re-delivery


def _kh_run_counts_sql(tag: str, rows: list[tuple]) -> str:
    """Expected (run_id, entity, ingested, clean, error) for one run of
    the khach_hang pipeline over ``rows`` — the same transform + 30-rule
    check + first-wins-id-dedup logic as ``_KH_ORACLE`` (the pipeline
    applies the id dedup only, DEDUP_KEYS), aggregated to zone counts
    (corrupt CSV lines never enter the envelope, so they appear in no
    count)."""
    return f"""
    SELECT '{tag}' AS run_id, 'khach_hang' AS entity,
           COUNT(*) AS ingested,
           CAST(SUM(CASE WHEN {_KH_OK_ALL} AND rnk_id = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS clean,
           CAST(SUM(CASE WHEN NOT ({_KH_OK_ALL} AND rnk_id = 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM ({_kh_fixed_checked_sql(_values(rows))}
          SELECT * FROM ranked)
    """


@query(
    "pipeline_run_history",
    oracle=_kh_run_counts_sql("r1", _KH_ROWS)
    + "\n    UNION ALL\n"
    + _kh_run_counts_sql("r2", _KH_ROWS_RUN2),
)
def pipeline_run_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 across runs: two complete pipeline executions (ingest →
    checkpointed drain → validate/dedup → zones → marts) append to the
    run_history lineage table, which is then queried back — run-scoped
    counts survive as a queryable parquet table rather than the
    reference's per-run log files (pipeline_run_*.log)."""
    out_root = run_tmpdir("runhist_")
    for tag, rows in (("r1", _KH_ROWS), ("r2", _KH_ROWS_RUN2)):
        data_dir = os.path.join(out_root, f"in_{tag}")
        os.makedirs(data_dir)
        with open(
            os.path.join(data_dir, "khachhang.csv"), "w", encoding="utf-8-sig"
        ) as f:
            f.write("id,ho_ten,sdt,thanh_pho,email\n")
            for row in rows:
                f.write(",".join(c if c is not None else "" for c in row) + "\n")
            f.write(_KH_CORRUPT_LINE + "\n")  # dead-letters, reaches no zone
        run_full_pipeline(spark, data_dir, out_root, run_id=tag)
    return run_history(spark, out_root).select(
        "run_id", "entity", "ingested", "clean", "error"
    )
