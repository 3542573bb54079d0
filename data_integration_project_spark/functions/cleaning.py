"""Column-expression cleaning library (reference transforms P1-P6).

Every helper returns a ``Column`` built from JVM-side built-ins —
whole-stage-codegen friendly, no Python UDFs — re-expressing the
reference's dict→dict row transforms
(``etl/transformers/data_transformer.py:13-213``) as declarative
expressions Catalyst can prune and push down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Scalar cleaning primitives
# ---------------------------------------------------------------------------


def collapse_whitespace(col: Column) -> Column:
    """``' '.join(s.split())`` (ref P1, data_transformer.py:24-28).
    Collapse FIRST, then trim: SQL ``trim`` strips only spaces, so the
    collapse must turn leading/trailing tabs into spaces before the
    trim can remove them (property-test-found ordering). NULL-safe."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def digits_only(col: Column) -> Column:
    """Keep digits only — phone normalization (ref P1,
    data_transformer.py:31-33)."""
    return F.regexp_replace(col, "[^0-9]", "")


def normalized_email(col: Column) -> Column:
    """Lowercase + trim (ref P1, data_transformer.py:40-41)."""
    return F.lower(F.trim(col))


# Python numeric grammars (ASCII): ``try_cast`` alone is WIDER than the
# reference's ``float()``/``int()`` — it parses Java-suffixed literals
# ('1D', '2F', '1e3d') that ``float()`` rejects (hypothesis
# counterexample, VERDICT r6 item 2) — so parsing is gated on the
# reference grammar first and anything outside it falls to the default.
# Python also accepts underscore digit SEPARATORS ('1_000', '1_0.5e1_0',
# between digits only), which ``try_cast`` rejects — the gate admits
# them and the underscores are stripped before the cast. Python also
# accepts SIGNED nan ('-nan'/'+nan' → NaN, the sign is unobservable)
# which ``try_cast`` nulls — the sign is stripped before the cast so
# both parse to NaN as in Python. Known residual narrowings: non-ASCII
# unicode digits (float('١٢٣') parses in Python; the engine cast
# cannot) fall to the default, and integer literals beyond int64
# (Python ints are arbitrary-precision; a bigint column is not)
# overflow to the default rather than the out-of-range value.
_D = r"\d(?:_?\d)*"  # digit run with optional single underscores between
_FLOAT_RE = (
    rf"^\s*[+-]?(({_D}\.(?:{_D})?|\.{_D}|{_D})([eE][+-]?{_D})?"
    r"|[iI][nN][fF]([iI][nN][iI][tT][yY])?|[nN][aA][nN])\s*$"
)
_INT_RE = rf"^\s*[+-]?{_D}\s*$"
_INT_DTYPES = {"int", "integer", "bigint", "long", "smallint", "tinyint", "short", "byte"}


def cast_default(col: Column, dtype: str, default) -> Column:
    """``float(x) if parseable else default`` (ref P2/P4,
    data_transformer.py:57-65) / ``int(x) if x else 0`` (ref P5,
    data_transformer.py:169-172): a regexp gate pins the accepted
    grammar to Python's, then ``try_cast`` yields NULL on anything the
    engine itself can't parse (ANSI-safe), and coalesce supplies the
    reference's fallback default."""
    gate = _INT_RE if dtype.lower() in _INT_DTYPES else _FLOAT_RE
    # strip underscore separators, then a sign directly before a nan
    # payload (gate-guaranteed: [+-][nN] can only start a signed nan,
    # which Python parses to NaN but try_cast would NULL)
    cleaned = F.regexp_replace(
        F.regexp_replace(col, "_", ""), r"[+-](?=[nN])", ""
    )
    parsed = F.when(col.rlike(gate), cleaned).try_cast(dtype)
    return F.coalesce(parsed, F.lit(default).cast(dtype))


def nullify_blank(col: Column) -> Column:
    """Empty/whitespace-only strings → NULL (the reference's
    ``value or None`` idiom)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(None)).otherwise(trimmed)


# ---------------------------------------------------------------------------
# Entity transform pipelines (P1-P5): DataFrame -> DataFrame in the
# canonical entity layout of schemas.ENTITIES. Each expects raw columns
# named as in FIXTURES.md §A and tolerates missing optional ones.
# ---------------------------------------------------------------------------


def _opt(df: DataFrame, name: str) -> Column:
    return F.col(name) if name in df.columns else F.lit(None).cast("string")


def _meta(df: DataFrame) -> list[Column]:
    """Lineage/metadata passthrough: ``_``-prefixed columns (line
    numbers, source tags, lookup results) survive the transforms —
    the reference's raw zone keeps exactly these (K2), and the
    order-dependent dedup (V2) needs ``_line_no`` downstream."""
    return [F.col(c) for c in df.columns if c.startswith("_")]


def transform_khach_hang(df: DataFrame, extract_time: Column | None = None) -> DataFrame:
    """P1 (data_transformer.py:13-45): id-coalesce, name collapse, phone
    digit-strip, city trim, email lowercase. ``extract_time`` defaults
    to ``current_timestamp()``, the reference's ``now()``; the ETL drain
    passes the envelope's extract time instead, at most one batch's
    queue latency earlier."""
    et = extract_time if extract_time is not None else F.current_timestamp()
    return df.select(
        F.coalesce(_opt(df, "id"), _opt(df, "customer_id")).cast("string").alias("customer_id"),
        nullify_blank(collapse_whitespace(_opt(df, "ho_ten"))).alias("ho_ten"),
        nullify_blank(digits_only(_opt(df, "sdt"))).alias("sdt"),
        nullify_blank(_opt(df, "thanh_pho")).alias("thanh_pho"),
        nullify_blank(normalized_email(_opt(df, "email"))).alias("email"),
        et.alias("extract_time"),
        *_meta(df),
    )


def transform_loai_mon(df: DataFrame, extract_time: Column | None = None) -> DataFrame:
    """P3 (data_transformer.py:86-103). ``extract_time`` as in P2."""
    et = extract_time if extract_time is not None else F.current_timestamp()
    return df.select(
        F.coalesce(_opt(df, "id"), _opt(df, "ma_loai")).cast("string").alias("ma_loai"),
        nullify_blank(_opt(df, "ten_loai")).alias("ten_loai"),
        nullify_blank(_opt(df, "mo_ta")).alias("mo_ta"),
        et.alias("extract_time"),
        *_meta(df),
    )


def transform_mon(df: DataFrame, extract_time: Column | None = None) -> DataFrame:
    """P4 (data_transformer.py:106-151) — dual-layout adapter. The CSV
    layout carries ``ten_san_pham`` + category *name* ``loai`` (loai_id
    deferred to a lookup join, see reconcile.category_lookup); the SQL
    layout carries ``ten_mon`` + ``loai_id``. Detection is per-DataFrame
    by column presence (schema is uniform per source in Spark, unlike the
    reference's per-row sniffing)."""
    et = extract_time if extract_time is not None else F.current_timestamp()
    if "ten_san_pham" in df.columns:  # CSV layout
        name_col, loai_id = F.col("ten_san_pham"), F.lit(None).cast("int")
    else:  # SQL layout
        name_col, loai_id = _opt(df, "ten_mon"), _opt(df, "loai_id").try_cast("int")
    return df.select(
        # source id passes through (may be absent/blank — doc: CSV ids
        # "có thể rỗng"); the mon ruleset's id rules target this
        F.coalesce(_opt(df, "id"), _opt(df, "ma_mon")).cast("string").alias("ma_mon"),
        nullify_blank(F.trim(name_col)).alias("ten_mon"),
        loai_id.alias("loai_id"),
        cast_default(_opt(df, "gia"), "double", 0.0).alias("gia"),
        et.alias("extract_time"),
        *_meta(df),
    )


def transform_nguyen_lieu(df: DataFrame, extract_time: Column | None = None) -> DataFrame:
    """P2 (data_transformer.py:48-83): numeric casts default 0.
    ``extract_time`` is the message's (the ETL drain passes the
    envelope's); ``current_timestamp()`` when none is given."""
    et = extract_time if extract_time is not None else F.current_timestamp()
    return df.select(
        F.coalesce(_opt(df, "id"), _opt(df, "ma_nguyen_lieu")).cast("string").alias("ma_nguyen_lieu"),
        nullify_blank(_opt(df, "ten_nguyen_lieu")).alias("ten_nguyen_lieu"),
        cast_default(_opt(df, "so_luong"), "double", 0.0).alias("so_luong"),
        nullify_blank(_opt(df, "don_vi")).alias("don_vi"),
        nullify_blank(_opt(df, "nha_cung_cap")).alias("nha_cung_cap"),
        cast_default(_opt(df, "gia"), "double", 0.0).alias("gia"),
        _opt(df, "ngay_nhap").try_cast("date").alias("ngay_nhap"),
        et.alias("extract_time"),
        *_meta(df),
    )


def transform_dat_hang(df: DataFrame, extract_time: Column | None = None) -> DataFrame:
    """P5 (data_transformer.py:154-185): FK ids as strings, qty int
    default 0, status trimmed. ``extract_time`` as in P1: ``now()`` by
    default, the envelope's extract time in the ETL drain."""
    et = extract_time if extract_time is not None else F.current_timestamp()
    return df.select(
        F.coalesce(_opt(df, "id"), _opt(df, "ma_don_hang"))
        .cast("string")
        .alias("ma_don_hang"),
        _opt(df, "khach_hang_id").cast("string").alias("khach_hang_id"),
        _opt(df, "mon_id").cast("string").alias("mon_id"),
        cast_default(_opt(df, "so_luong"), "int", 0).alias("so_luong"),
        _opt(df, "ngay_dat").try_cast("date").alias("ngay_dat"),
        nullify_blank(_opt(df, "trang_thai")).alias("trang_thai"),
        et.alias("extract_time"),
        *_meta(df),
    )


#: P6 dispatch registry (data_transformer.py:188-213); unknown entity →
#: identity, matching the reference's passthrough.
TRANSFORMS = {
    "khach_hang": transform_khach_hang,
    "loai_mon": transform_loai_mon,
    "mon": transform_mon,
    "nguyen_lieu": transform_nguyen_lieu,
    "dat_hang": transform_dat_hang,
}


def transform_entity(entity: str, df: DataFrame, **kw) -> DataFrame:
    fn = TRANSFORMS.get(entity)
    return fn(df, **kw) if fn else df
