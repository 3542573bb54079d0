"""Text-analysis queries over the documents corpus: token statistics,
quality scoring, language ID, fingerprinting, multimodal metadata.

Every expression here has a verified DuckDB twin (tokenization,
occurrence counting via replace-arithmetic, md5 fingerprints); the
multimodal feature extraction adds a mapInPandas path whose features are
oracle-checked through equivalent blob SQL where DuckDB can express it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators import multimodal as M
from . import text_kit as K
from .catalog import query, t


_BPE_SQL = X.BPE_ISH_PATTERN.replace("'", "''")


@query(
    "doc_token_stats",
    oracle=f"""
    SELECT
      doc_id,
      lang,
      source,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(len({K.TOKENS_SQL}) AS INT) AS n_tokens,
      CAST(len(list_distinct({K.TOKENS_SQL})) AS INT) AS n_distinct_tokens,
      CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS INT) AS n_bpe_tokens,
      CAST(len(list_distinct({K.TOKENS_SQL})) AS DOUBLE)
        / len({K.TOKENS_SQL}) AS type_token_ratio
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (token counting over the corpus):
    whitespace tokenization, distinct-token vocabulary, a BPE-style
    regex pretokenizer count (the unit an encoder would merge within),
    and type/token ratio. Single scan, no shuffle."""
    d = t(spark, sf_dir, "documents")
    n_tok = X.token_count(F.col("text"))
    n_dis = X.distinct_token_count(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct_tokens"),
        X.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        (n_dis.cast("double") / n_tok).alias("type_token_ratio"),
    )


@query(
    "doc_quality_scores",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        len({K.TOKENS_SQL}) AS n_tokens,
        CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
          / nullif(length(lower(text)), 0) AS punct_ratio,
        CAST((length(' '||lower(text)||' ') - length(replace(' '||lower(text)||' ', ' the ', '')))/5
           + (length(' '||lower(text)||' ') - length(replace(' '||lower(text)||' ', ' a ', '')))/3
           AS INT) AS stopword_hits
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_hits,
      CASE WHEN n_tokens >= 20 AND punct_ratio < 0.1 AND stopword_hits > 0 THEN 'good'
           WHEN n_tokens >= 5 THEN 'fair'
           ELSE 'poor' END AS quality_bucket
    FROM scored
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length / punctuation / stopword
    signals) with a 3-bucket verdict — the pretraining-corpus filter
    shape."""
    d = t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    stop_hits = (
        X.occurrence_count(padded, " the ") + X.occurrence_count(padded, " a ")
    ).cast("int")
    n_tok = X.token_count(F.col("text"))
    pr = X.punct_ratio(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        pr.alias("punct_ratio"),
        stop_hits.alias("stopword_hits"),
        F.when((n_tok >= 20) & (pr < 0.1) & (stop_hits > 0), "good")
        .when(n_tok >= 5, "fair")
        .otherwise("poor")
        .alias("quality_bucket"),
    )


#: integer quality score shared by the preference-pair builder and its
#: oracle: 10 × stopword hits + token count (both exact integers).
_PREF_SCORE_SQL = f"""(
  10 * CAST((length(' '||lower(text)||' ')
             - length(replace(' '||lower(text)||' ', ' the ', '')))/5
          + (length(' '||lower(text)||' ')
             - length(replace(' '||lower(text)||' ', ' a ', '')))/3 AS BIGINT)
  + len({K.TOKENS_SQL})
)"""


@query(
    "doc_preference_pairs",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source, md5(text) AS fp,
             CAST({_PREF_SCORE_SQL} AS BIGINT) AS score
      FROM documents
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
                                   ORDER BY score DESC, doc_id) AS rn
      FROM scored
    ),
    worst AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
                                   ORDER BY score, doc_id DESC) AS rn
      FROM scored
    )
    SELECT b.lang, b.source,
           CAST(b.doc_id AS BIGINT) AS chosen_id,
           CAST(w.doc_id AS BIGINT) AS rejected_id,
           b.score AS chosen_score, w.score AS rejected_score,
           b.score - w.score AS margin,
           CAST(CASE WHEN b.fp = w.fp THEN 1 ELSE 0 END AS INTEGER)
             AS exact_dup_leak
    FROM best b
    JOIN worst w ON w.lang = b.lang AND w.source = b.source
    WHERE b.rn = 1 AND w.rn = 1 AND b.score > w.score
    """,
)
def doc_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR CONSTRUCTION — the data-prep step that turns a
    scored corpus into chosen/rejected training pairs for reward-model
    / DPO-style tuning: within each (lang, source) stratum the
    best-scoring document is CHOSEN and the worst REJECTED (integer
    quality score = 10 × stopword hits + token count; deterministic
    doc_id tie-breaks on both ends), the pair's margin is reported, and
    strata whose best and worst tie are dropped (no signal — the
    degenerate-pair rule). Each pair also carries an exact-dup leakage
    flag (md5 fingerprint equality) — a chosen/rejected pair built from
    the same text teaches the reward model nothing and poisons eval.

    Scale shape: one scan computes scores, the two rank-1 picks share
    ONE hash partitioning on the stratum key (two windows + the
    pair-assembly join all co-partition), so the whole builder is a
    single shuffle of scored rows; at 100 TB the per-stratum top/bottom
    pick would swap to a partial TakeOrdered per stratum, same
    contract. Complements [[lineitem_bradley_terry]], which FITS the
    rating model such pairs feed."""
    d = t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    stop_hits = (
        X.occurrence_count(padded, " the ") + X.occurrence_count(padded, " a ")
    ).cast("long")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("fp"),
        (10 * stop_hits + X.token_count(F.col("text")).cast("long")).alias(
            "score"
        ),
    )
    wb = Window.partitionBy("lang", "source").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    ww = Window.partitionBy("lang", "source").orderBy(
        F.col("score"), F.col("doc_id").desc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("chosen_id"),
            F.col("score").alias("chosen_score"),
            F.col("fp").alias("fp_b"),
        )
    )
    worst = (
        scored.withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") == 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("rejected_id"),
            F.col("score").alias("rejected_score"),
            F.col("fp").alias("fp_w"),
        )
    )
    return (
        best.join(worst, ["lang", "source"])
        .where(F.col("chosen_score") > F.col("rejected_score"))
        .select(
            "lang",
            "source",
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
            (F.col("fp_b") == F.col("fp_w"))
            .cast("int")
            .alias("exact_dup_leak"),
        )
    )


_LANG_SCORE_SQL = {
    lang: " + ".join(
        f"(length(padded) - length(replace(padded, '{m}', '')))/{len(m)}"
        for m in markers
    )
    for lang, markers in X.LANG_MARKERS.items()
}


@query(
    "doc_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
        CAST({_LANG_SCORE_SQL['de']} AS INT) AS score_de,
        CAST({_LANG_SCORE_SQL['en']} AS INT) AS score_en,
        CAST({_LANG_SCORE_SQL['es']} AS INT) AS score_es,
        CAST({_LANG_SCORE_SQL['fr']} AS INT) AS score_fr,
        CAST({_LANG_SCORE_SQL['zh']} AS INT) AS score_zh
      FROM (SELECT doc_id, lang, ' '||lower(text)||' ' AS padded FROM documents)
    ),
    best AS (
      SELECT doc_id, labeled_lang,
        CASE
          WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) <= 0 THEN 'und'
          WHEN score_de >= greatest(score_en, score_es, score_fr, score_zh) THEN 'de'
          WHEN score_en >= greatest(score_es, score_fr, score_zh) THEN 'en'
          WHEN score_es >= greatest(score_fr, score_zh) THEN 'es'
          WHEN score_fr >= score_zh THEN 'fr'
          ELSE 'zh' END AS detected_lang
      FROM scored
    )
    SELECT detected_lang, labeled_lang, COUNT(*) AS n_docs
    FROM best GROUP BY detected_lang, labeled_lang
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-marker argmax, alphabetical
    tie-break, 'und' on zero signal) — confusion-matrix rollup against
    the corpus's lang labels."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            X.lang_id(F.col("text")).alias("detected_lang"),
        )
        .groupBy("detected_lang", "labeled_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           {K.FINGERPRINT_SQL} AS fingerprint,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: portable md5 over whitespace-normalized
    lowercased text (the exact-dedup key)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.fingerprint_md5(F.col("text")).alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT)
             AS sum_bytes,
           CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE)
             / octet_length(encode(text)) AS mean_byte,
           lower(hex(substr(text, 1, 8))) AS head_hex
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline plumbing end-to-end: documents adapted into
    binary media records, then Arrow-batched ``mapInPandas`` feature
    extraction (deterministic fake decode — real codecs are stubbed,
    operators/multimodal.py). The oracle recomputes the byte-level
    features in SQL (payloads are ASCII, so bytes ≡ codepoints)."""
    media = M.documents_as_media(t(spark, sf_dir, "documents"))
    return M.extract_features(media)


def _PPM_CH_SUM(offset: int) -> str:
    """Sum of the PPM raster channel at ``offset`` (0=R,1=G,2=B): the
    raster is the text's byte prefix (zero padding adds nothing)."""
    return (
        f"coalesce(list_sum(list_transform(range(1, n + 1), "
        f"i -> CASE WHEN (i - 1) % 3 = {offset} THEN ascii(sp[i]) ELSE 0 END)), 0)"
    )


#: abs(signed int16) assembled from the byte pair at sample j —
#: lo = ascii(sp[2j-1]), hi = ascii(sp[2j]); hi >= 128 means negative.
_WAV_ABS = (
    "abs(ascii(sp[2*j - 1]) + 256 * ascii(sp[2*j]) "
    "- CASE WHEN ascii(sp[2*j]) >= 128 THEN 65536 ELSE 0 END)"
)


@query(
    "multimodal_wav_decode",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 4096) // 2 AS n
      FROM documents
    )
    SELECT media_id,
           'wav' AS format,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                 j -> {_WAV_ABS})), 0) AS BIGINT) AS sum_abs,
           CAST(coalesce(list_max(list_transform(range(1, n + 1),
                 j -> {_WAV_ABS})), 0) AS BIGINT) AS peak_abs
    FROM dims
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, no codec libraries and no faking: documents
    render into valid mono 16-bit PCM WAVs (encode_wav), then
    decode_wav walks the RIFF chunk list and computes exact sample
    statistics inside mapInPandas. The oracle reassembles the same
    little-endian int16 stream from the text bytes in SQL (integer
    sums — bit-exact)."""
    media = M.documents_as_wav_media(t(spark, sf_dir, "documents"))
    return M.decode_audio_features(media)


@query(
    "multimodal_tga_decode",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 3072) AS n,
             greatest(1, CAST(ceil(least(octet_length(encode(text)), 3072) / 48.0)
                              AS INTEGER)) AS height
      FROM documents
    )
    SELECT media_id,
           'tga' AS format,
           CAST(16 AS INTEGER) AS width,
           height,
           CAST(16 * height AS BIGINT) AS n_pixels,
           CAST({_PPM_CH_SUM(2)} AS DOUBLE) / (16 * height) AS mean_r,
           CAST({_PPM_CH_SUM(1)} AS DOUBLE) / (16 * height) AS mean_g,
           CAST({_PPM_CH_SUM(0)} AS DOUBLE) / (16 * height) AS mean_b
    FROM dims
    """,
)
def multimodal_tga_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TGA decode: documents render into valid uncompressed 24-bit
    TGAs stored bottom-up in BGR (encode_tga), and decode_image's
    structural dispatch (TGA has no magic bytes) parses the 18-byte
    little-endian header, re-normalizes row order, and computes exact
    channel means. Versus PPM the channel offsets are swapped (byte 0
    is BLUE) — the oracle's mean_r reads offset 2, proving the decoder
    honors BGR rather than copying the PPM path."""
    media = M.documents_as_tga_media(t(spark, sf_dir, "documents"))
    return M.decode_image_features(media)


#: abs(signed int16) from the BIG-endian byte pair at sample j —
#: hi = ascii(sp[2j-1]), lo = ascii(sp[2j]); hi >= 128 means negative.
_AIFF_ABS = (
    "abs(256 * ascii(sp[2*j - 1]) + ascii(sp[2*j]) "
    "- CASE WHEN ascii(sp[2*j - 1]) >= 128 THEN 65536 ELSE 0 END)"
)


@query(
    "multimodal_aiff_decode",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 4096) // 2 AS n
      FROM documents
    )
    SELECT media_id,
           'aiff' AS format,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                 j -> {_AIFF_ABS})), 0) AS BIGINT) AS sum_abs,
           CAST(coalesce(list_max(list_transform(range(1, n + 1),
                 j -> {_AIFF_ABS})), 0) AS BIGINT) AS peak_abs
    FROM dims
    """,
)
def multimodal_aiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL big-endian audio decode: documents render into valid mono
    16-bit AIFF files (IFF FORM/AIFF, COMM with an 80-bit
    extended-float sample rate, SSND with offset preamble), then
    decode_audio dispatches on container magic and walks the chunk
    list. The oracle reassembles the same BIG-endian int16 stream —
    the same text bytes yield different samples than the WAV twin, so
    endianness handling is actually exercised."""
    media = M.documents_as_aiff_media(t(spark, sf_dir, "documents"))
    return M.decode_audio_features(media)


@query(
    "multimodal_ppm_decode",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 3072) AS n,
             greatest(1, CAST(ceil(least(octet_length(encode(text)), 3072) / 48.0)
                              AS INTEGER)) AS height
      FROM documents
    )
    SELECT media_id,
           'ppm' AS format,
           CAST(16 AS INTEGER) AS width,
           height,
           CAST(16 * height AS BIGINT) AS n_pixels,
           CAST({_PPM_CH_SUM(0)} AS DOUBLE) / (16 * height) AS mean_r,
           CAST({_PPM_CH_SUM(1)} AS DOUBLE) / (16 * height) AS mean_g,
           CAST({_PPM_CH_SUM(2)} AS DOUBLE) / (16 * height) AS mean_b
    FROM dims
    """,
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, no codec libraries and no faking: documents
    are rendered into valid binary P6 PPM files (encode_ppm), then
    decode_image parses the header grammar and RGB raster back out
    inside mapInPandas (operators/multimodal.py). The oracle recomputes
    dimensions and exact per-channel means from the same byte layout in
    SQL (integer channel sums, one double division)."""
    media = M.documents_as_ppm_media(t(spark, sf_dir, "documents"))
    return M.decode_image_features(media)


@query(
    "multimodal_png_decode",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 3072) AS n,
             greatest(1, CAST(ceil(least(octet_length(encode(text)), 3072) / 48.0)
                              AS INTEGER)) AS height
      FROM documents
    )
    SELECT media_id,
           'png' AS format,
           CAST(16 AS INTEGER) AS width,
           height,
           CAST(16 * height AS BIGINT) AS n_pixels,
           CAST({_PPM_CH_SUM(0)} AS DOUBLE) / (16 * height) AS mean_r,
           CAST({_PPM_CH_SUM(1)} AS DOUBLE) / (16 * height) AS mean_g,
           CAST({_PPM_CH_SUM(2)} AS DOUBLE) / (16 * height) AS mean_b
    FROM dims
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED image decode — the codec gap closed for PNG with
    zero external libraries: documents render into valid 8-bit truecolor
    PNGs whose scanlines cycle through all five PNG filter types before
    DEFLATE (encode_png), then decode_png walks the CRC-checked chunk
    list, inflates IDAT via stdlib zlib, and undoes Sub/Up/Average/Paeth
    filtering byte-by-byte inside mapInPandas. Filters + DEFLATE are
    lossless, so the oracle recomputes the exact channel means from the
    same padded byte prefix in SQL — any unfiltering bug (e.g. a wrong
    Paeth tie-break) shifts the sums and fails the hash."""
    media = M.documents_as_png_media(t(spark, sf_dir, "documents"))
    return M.decode_image_features(media)


@query(
    "multimodal_gif_decode",
    oracle="""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 1024) AS n,
             greatest(1, CAST(ceil(least(octet_length(encode(text)), 1024) / 16.0)
                              AS INTEGER)) AS height
      FROM documents
    ),
    sums AS (
      SELECT media_id, height,
             CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                   i -> ascii(sp[i]))), 0) AS BIGINT) AS byte_sum
      FROM dims
    )
    SELECT media_id,
           'gif' AS format,
           CAST(16 AS INTEGER) AS width,
           height,
           CAST(16 * height AS BIGINT) AS n_pixels,
           CAST(byte_sum AS DOUBLE) / (16 * height) AS mean_r,
           CAST(byte_sum AS DOUBLE) / (16 * height) AS mean_g,
           CAST(byte_sum AS DOUBLE) / (16 * height) AS mean_b
    FROM sums
    """,
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW-compressed image decode, implemented from the GIF89a
    spec with zero libraries: documents render into valid GIFs (one
    pixel per byte through a grayscale palette, raster LZW-compressed
    into sub-blocks), then decode_gif parses the screen descriptor +
    color table, reassembles the sub-blocks, runs variable-width LZW
    decompression (code widening, CLEAR resets, the KwKwK case), and
    maps indices through the palette inside mapInPandas. The grayscale
    palette makes all three channel means equal the exact padded byte
    mean, which the oracle recomputes in SQL — any LZW bug shifts the
    sums and fails the hash."""
    media = M.documents_as_gif_media(t(spark, sf_dir, "documents"))
    return M.decode_image_features(media)


# ---------------------------------------------------------------------------
# Deterministic sampling (operators/sampling.py): hash-based, stable
# under repartitioning — the reproducible train/test-split primitive.
# ---------------------------------------------------------------------------

_SAMPLE_BUCKET = "((1103515245 * ((doc_id + {salt}) % 2147483647) + 12360) % 2147483647) % 1000"


@query(
    "doc_stratified_sample",
    oracle=f"""
    WITH langs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'en'
                  WHEN doc_id % 7 = 1 THEN 'de' ELSE 'other' END AS lang
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled
    FROM langs
    WHERE {_SAMPLE_BUCKET.format(salt=0)} <
          CASE WHEN lang = 'en' THEN 250
               WHEN lang = 'de' THEN 1000 ELSE 50 END
    GROUP BY lang
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: downsample the dominant
    stratum (en: 25%), keep all of the rare one (de: 100%), and thin
    the rest (5%) — membership is a pure function of doc_id, so the
    sample is identical across runs, partitionings, and engines. A
    scan-side codegen filter; zero shuffles before the count."""
    from ..operators.sampling import stratified_hash_sample

    docs = t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")
    langs = docs.withColumn(
        "lang",
        F.when(k % 7 == 0, "en").when(k % 7 == 1, "de").otherwise("other"),
    )
    sampled = stratified_hash_sample(
        langs, "doc_id", "lang", {"en": 250, "de": 1000}, default_permille=50
    )
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


# ---------------------------------------------------------------------------
# Learned language ID: multinomial Naive Bayes trained in-engine (the
# statistical upgrade of doc_lang_id's fixed marker heuristic)
# ---------------------------------------------------------------------------


@query(
    "doc_nb_lang_classify",
    oracle=f"""
    WITH {K.nb_scores_sql()},
    best AS (
      SELECT doc_id, labeled_lang, lang AS detected_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_unats DESC, lang) AS rn
      FROM nb_scored
    )
    SELECT detected_lang, labeled_lang, COUNT(*) AS n_docs
    FROM best WHERE rn = 1
    GROUP BY detected_lang, labeled_lang
    """,
)
def doc_nb_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED language identification: a multinomial Naive Bayes
    classifier trained in-engine on the corpus's own labels (class
    priors + add-one-smoothed token likelihoods over the shared vocab)
    and evaluated on the training set as a confusion matrix against
    doc_lang_id's fixed-marker heuristic shape.

    Determinism: every (token, lang) log-likelihood and every class
    prior is computed ONCE (one exact-integer division, one ln,
    rounded to integer micro-nats), so per-document scores are exact
    BIGINT sums with a total-order argmax (score desc, lang asc).
    Scale shape: the model is |vocab| x |langs| rows — built from one
    map-side-combined count and BROADCAST into the scoring join; the
    corpus-side token stream fans out only by |langs| and the doc
    rollup is the single big shuffle. The same plan carries a
    100 TB corpus as long as the pruned vocab stays broadcastable."""
    scored = K.nb_scores(t(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_unats"), F.asc("lang")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.select(F.col("lang").alias("detected_lang"), "labeled_lang")
        .groupBy("detected_lang", "labeled_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "doc_nb_calibration",
    oracle=f"""
    WITH {K.nb_scores_sql()},
    ranked AS (
      SELECT doc_id, labeled_lang, lang, score_unats,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_unats DESC, lang) AS rn
      FROM nb_scored
    ),
    per_doc AS (
      SELECT a.doc_id,
             CAST(a.score_unats - b.score_unats AS BIGINT) AS margin_unats,
             CAST(a.lang = a.labeled_lang AS INT) AS correct
      FROM ranked a JOIN ranked b
        ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2
    ),
    binned AS (
      SELECT ntile(10) OVER (ORDER BY margin_unats, doc_id) AS margin_decile,
             margin_unats, correct
      FROM per_doc
    )
    SELECT margin_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(correct) AS BIGINT) AS n_correct,
           CAST(round(CAST(SUM(correct) AS DOUBLE) * 1000000 / COUNT(*))
                AS BIGINT) AS accuracy_ppm,
           CAST(MIN(margin_unats) AS BIGINT) AS min_margin_unats,
           CAST(MAX(margin_unats) AS BIGINT) AS max_margin_unats
    FROM binned GROUP BY margin_decile
    """,
)
def doc_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION curve for the Naive Bayes language classifier: each
    document's CONFIDENCE is the micro-nat margin between its top and
    runner-up class scores, and the reliability table buckets margins
    into deciles against realized accuracy — a well-calibrated
    classifier's accuracy should rise monotonically with margin,
    and the low-margin deciles tell you where abstaining beats
    predicting (the selective-prediction threshold). Margins are
    exact integer micro-nats; the decile cut uses the total-order
    ntile tiebreak.

    Scale shape: same broadcast-model scoring pass as
    doc_nb_lang_classify, plus a rank window per doc and a
    dimension-sized decile window."""
    scored = K.nb_scores(t(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_unats"), F.asc("lang"))
    # `ranked` feeds both the top-1 and runner-up branches: the lazy
    # checkpoint runs the scoring pass and rank window once
    ranked = scored.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    best = ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        "labeled_lang",
        F.col("lang").alias("lang1"),
        F.col("score_unats").alias("s1"),
    )
    second = ranked.filter(F.col("rn") == 2).select(
        F.col("doc_id").alias("d2"), F.col("score_unats").alias("s2")
    )
    per_doc = best.join(second, F.col("doc_id") == F.col("d2")).select(
        "doc_id",
        (F.col("s1") - F.col("s2")).alias("margin_unats"),
        (F.col("lang1") == F.col("labeled_lang")).cast("int").alias("correct"),
    )
    wd = Window.orderBy("margin_unats", "doc_id")
    binned = per_doc.withColumn("margin_decile", F.ntile(10).over(wd))
    return binned.groupBy("margin_decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("correct").alias("n_correct"),
        F.round(
            F.sum("correct").cast("double") * 1000000 / F.count(F.lit(1))
        )
        .cast("long")
        .alias("accuracy_ppm"),
        F.min("margin_unats").alias("min_margin_unats"),
        F.max("margin_unats").alias("max_margin_unats"),
    )


# ---------------------------------------------------------------------------
# Classifier agreement (Cohen's kappa) and margin ROC-AUC
# ---------------------------------------------------------------------------

_NB_DETECT_SQL = f"""
    {K.nb_scores_sql()},
    nb_best AS (
      SELECT doc_id, labeled_lang, lang AS nb_lang
      FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_unats DESC, lang) AS rn
        FROM nb_scored
      ) WHERE rn = 1
    )
"""

_HEUR_DETECT_SQL = f"""
    heur_scored AS (
      SELECT doc_id,
        CAST({_LANG_SCORE_SQL['de']} AS INT) AS score_de,
        CAST({_LANG_SCORE_SQL['en']} AS INT) AS score_en,
        CAST({_LANG_SCORE_SQL['es']} AS INT) AS score_es,
        CAST({_LANG_SCORE_SQL['fr']} AS INT) AS score_fr,
        CAST({_LANG_SCORE_SQL['zh']} AS INT) AS score_zh
      FROM (SELECT doc_id, ' '||lower(text)||' ' AS padded FROM documents)
    ),
    heur_best AS (
      SELECT doc_id,
        CASE
          WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) <= 0
            THEN 'und'
          WHEN score_de >= greatest(score_en, score_es, score_fr, score_zh)
            THEN 'de'
          WHEN score_en >= greatest(score_es, score_fr, score_zh) THEN 'en'
          WHEN score_es >= greatest(score_fr, score_zh) THEN 'es'
          WHEN score_fr >= score_zh THEN 'fr'
          ELSE 'zh' END AS heur_lang
      FROM heur_scored
    )
"""


@query(
    "doc_classifier_kappa",
    oracle=f"""
    WITH {_NB_DETECT_SQL},
    {_HEUR_DETECT_SQL},
    joined AS (
      SELECT n.doc_id, n.nb_lang, h.heur_lang
      FROM nb_best n JOIN heur_best h USING (doc_id)
    ),
    marg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN nb_lang = heur_lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM joined
    ),
    pe AS (
      SELECT CAST(SUM(nh * nb) AS BIGINT) AS pe_num
      FROM (
        SELECT COALESCE(h.lab, b.lab) AS lab,
               COALESCE(nh, 0) AS nh, COALESCE(nb, 0) AS nb
        FROM (SELECT heur_lang AS lab, COUNT(*) AS nh FROM joined GROUP BY 1) h
        FULL JOIN (SELECT nb_lang AS lab, COUNT(*) AS nb FROM joined GROUP BY 1) b
          USING (lab)
      )
    )
    SELECT m.n_docs, m.n_agree,
           CAST(round(CAST(m.n_agree AS DOUBLE) * 1000000 / m.n_docs)
                AS BIGINT) AS agreement_ppm,
           CAST(m.n_agree * m.n_docs - p.pe_num AS DOUBLE)
             / CAST(m.n_docs * m.n_docs - p.pe_num AS DOUBLE) AS cohens_kappa
    FROM marg m, pe p
    """,
)
def doc_classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the two language classifiers (the marker
    heuristic and the learned Naive Bayes): raw agreement overstates
    consensus when labels are imbalanced, so kappa subtracts the
    chance agreement implied by each classifier's marginal label
    distribution — the inter-annotator-agreement statistic, applied to
    model-vs-model audit (low kappa on a slice = route it to review).
    Formulated fully in integers: kappa = (agree*N - sum(nh*nb)) /
    (N^2 - sum(nh*nb)) — one exact division, no float marginals.

    Scale shape: both classifiers are single broadcast-scoring passes;
    the agreement join and marginals operate per doc."""
    from ..functions.text import lang_id

    d = t(spark, sf_dir, "documents")
    nb_scored = K.nb_scores(t(spark, sf_dir, "documents"))
    wnb = Window.partitionBy("doc_id").orderBy(
        F.desc("score_unats"), F.asc("lang")
    )
    nb_best = (
        nb_scored.withColumn("rn", F.row_number().over(wnb))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("nb_lang"))
    )
    heur = d.select("doc_id", lang_id(F.col("text")).alias("heur_lang"))
    # `joined` feeds the agreement aggregate and both marginal rollups:
    # the lazy checkpoint of the |docs|-row panel runs the NB scoring
    # pass and the heuristic scan once, not three times
    joined = nb_best.join(heur, "doc_id").localCheckpoint(eager=False)
    marg = joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("nb_lang") == F.col("heur_lang"), 1).otherwise(0)
        ).alias("n_agree"),
    )
    h = joined.groupBy(F.col("heur_lang").alias("lab")).agg(
        F.count(F.lit(1)).alias("nh")
    )
    b = joined.groupBy(F.col("nb_lang").alias("lab")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    pe = (
        h.join(b, "lab", "full_outer")
        .select(
            (
                F.coalesce("nh", F.lit(0)) * F.coalesce("nb", F.lit(0))
            ).alias("prod")
        )
        .agg(F.sum("prod").alias("pe_num"))
    )
    return marg.crossJoin(F.broadcast(pe)).select(
        "n_docs",
        "n_agree",
        F.round(F.col("n_agree").cast("double") * 1000000 / F.col("n_docs"))
        .cast("long")
        .alias("agreement_ppm"),
        (
            (F.col("n_agree") * F.col("n_docs") - F.col("pe_num")).cast("double")
            / (F.col("n_docs") * F.col("n_docs") - F.col("pe_num")).cast("double")
        ).alias("cohens_kappa"),
    )


_NB_RANKED_SQL = (
    _NB_DETECT_SQL.replace("nb_best AS (", "nb_ranked AS (")
    .replace(
        "SELECT doc_id, labeled_lang, lang AS nb_lang",
        "SELECT doc_id, labeled_lang, lang AS nb_lang, score_unats, rn",
    )
    .replace("WHERE rn = 1", "WHERE rn <= 2")
)


@query(
    "doc_nb_margin_auc",
    oracle=f"""
    WITH {_NB_RANKED_SQL},
    per_doc AS (
      SELECT a.doc_id,
             CAST(a.score_unats - b.score_unats AS BIGINT) AS margin,
             CAST(a.nb_lang = a.labeled_lang AS INT) AS is_pos
      FROM (SELECT * FROM nb_ranked WHERE rn = 1) a
      JOIN (SELECT * FROM nb_ranked WHERE rn = 2) b USING (doc_id)
    ),
    ranked AS (
      SELECT is_pos,
             AVG(rn) OVER (PARTITION BY margin) AS midrank
      FROM (SELECT is_pos, margin,
                   CAST(row_number() OVER (ORDER BY margin, doc_id) AS DOUBLE)
                     AS rn
            FROM per_doc)
    ),
    sums AS (
      SELECT CAST(SUM(is_pos) AS BIGINT) AS n_pos,
             CAST(SUM(1 - is_pos) AS BIGINT) AS n_neg,
             SUM(CASE WHEN is_pos = 1 THEN midrank ELSE 0 END) AS r_pos
      FROM ranked
    )
    SELECT n_pos, n_neg,
           (CAST(r_pos AS DOUBLE) - CAST(n_pos * (n_pos + 1) AS DOUBLE) / 2)
             / (CAST(n_pos AS DOUBLE) * n_neg) AS auc
    FROM sums
    """,
)
def doc_nb_margin_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the Naive Bayes CONFIDENCE MARGIN as a predictor of
    correctness — the single-number summary of the calibration curve
    (doc_nb_calibration): AUC is the probability that a correctly
    classified document outranks a misclassified one on margin,
    computed exactly via the rank identity AUC = (R+ - n+(n+ + 1)/2) /
    (n+ * n-) with midranks for ties (the Mann-Whitney relation, no
    threshold sweep needed). Above 0.5 means the margin carries real
    selective-prediction signal.

    Determinism: margins are exact micro-nat integers; midranks are
    .5-granular doubles whose sums are exact; AUC is a fixed chain."""
    scored = K.nb_scores(t(spark, sf_dir, "documents"))
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("score_unats"), F.asc("lang")
    )
    # the same two-branch fan-out as doc_nb_calibration
    ranked2 = scored.withColumn("rn", F.row_number().over(wr)).localCheckpoint(
        eager=False
    )
    best = ranked2.filter(F.col("rn") == 1).select(
        "doc_id",
        "labeled_lang",
        F.col("lang").alias("lang1"),
        F.col("score_unats").alias("s1"),
    )
    second = ranked2.filter(F.col("rn") == 2).select(
        F.col("doc_id").alias("d2"), F.col("score_unats").alias("s2")
    )
    per_doc = best.join(second, F.col("doc_id") == F.col("d2")).select(
        "doc_id",
        (F.col("s1") - F.col("s2")).alias("margin"),
        (F.col("lang1") == F.col("labeled_lang")).cast("int").alias("is_pos"),
    )
    w_rn = Window.orderBy("margin", "doc_id")
    w_mid = Window.partitionBy("margin")
    ranked = per_doc.withColumn(
        "rn", F.row_number().over(w_rn).cast("double")
    ).withColumn("midrank", F.avg("rn").over(w_mid))
    sums = ranked.agg(
        F.sum("is_pos").alias("n_pos"),
        F.sum(1 - F.col("is_pos")).alias("n_neg"),
        F.sum(F.when(F.col("is_pos") == 1, F.col("midrank")).otherwise(0.0)).alias(
            "r_pos"
        ),
    )
    auc = (
        F.col("r_pos").cast("double")
        - (F.col("n_pos") * (F.col("n_pos") + 1)).cast("double") / 2
    ) / (F.col("n_pos").cast("double") * F.col("n_neg"))
    return sums.select("n_pos", "n_neg", auc.alias("auc"))


# ---------------------------------------------------------------------------
# Hashing-trick featurizer: fixed-width sparse features with NO
# vocabulary — the feature path that never shuffles a vocab table.
# ---------------------------------------------------------------------------



@query(
    "doc_hashed_features",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, u.pos, u.tok
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len({K.TOKENS_SQL})+1),
                      i -> struct_pack(pos := i, tok := {K.TOKENS_SQL}[i])))
                 AS u
        FROM documents
      )
    ),
    dim AS (
      SELECT tok, {K.char_fold_sql('tok')} AS h
      FROM (SELECT DISTINCT tok FROM tokpos)
    ),
    tp AS (
      SELECT t.doc_id, t.pos, d.h,
             lead(d.h) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS h2
      FROM tokpos t JOIN dim d USING (tok)
    ),
    feats AS (
      SELECT doc_id, h % 1024 AS bucket FROM tp
      UNION ALL
      SELECT doc_id, ((h * 131 + h2) % 2147483647) % 1024
      FROM tp WHERE h2 IS NOT NULL
    ),
    cnt AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM feats GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS nnz,
           CAST(SUM(c) AS BIGINT) AS total_terms,
           (min(struct_pack(nc := -c, b := bucket))).b AS top_bucket,
           CAST(-(min(struct_pack(nc := -c, b := bucket))).nc AS BIGINT)
             AS top_count,
           CAST(SUM(bucket * c) % 2147483647 AS BIGINT) AS checksum
    FROM cnt GROUP BY doc_id
    """,
)
def doc_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHING-TRICK featurizer (Weinberger et al., ICML'09): unigram +
    bigram counts hashed into a FIXED 1024-bucket feature space — the
    text-feature path that needs no vocabulary table, so at 100 TB
    nothing vocabulary-sized is built, broadcast, or shuffled; feature
    width is a constant chosen up front and collisions are the
    accepted trade. Per-token char hashing goes through a DISTINCT-
    token dim join (the interpreted-HOF lesson: hash each distinct
    token once, not every occurrence); bigrams come from one lead() over
    the document's token positions. Output certifies the full sparse
    vector per doc: nonzero count, total terms, argmax bucket
    (deterministic (-count, bucket) tiebreak), and an order-free
    Σ(bucket·count) mod P checksum.

    Scale shape: posexplode → one doc_id-partitioned window (shuffle
    1) → bucket counts re-use the same doc_id prefix (shuffle 2,
    AQE-coalesced) → per-doc rollup on the same key. The token dim is
    broadcast."""
    d = t(spark, sf_dir, "documents")
    P, D = 2147483647, 1024
    tokpos = d.select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "tok")
    )
    dim = (
        tokpos.select("tok")
        .distinct()
        .withColumn("h", X.char_fold_hash(F.col("tok")))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tp = (
        tokpos.join(F.broadcast(dim), "tok")
        .withColumn("h2", F.lead("h").over(w))
    )
    uni = tp.select("doc_id", (F.col("h") % D).alias("bucket"))
    bi = tp.filter(F.col("h2").isNotNull()).select(
        "doc_id",
        (((F.col("h") * 131 + F.col("h2")) % P) % D).alias("bucket"),
    )
    cnt = (
        uni.unionByName(bi)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = F.min(
        F.struct((-F.col("c")).alias("nc"), F.col("bucket").alias("b"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sum("c").alias("total_terms"),
            top.alias("_m"),
            (F.sum(F.col("bucket") * F.col("c")) % P).alias("checksum"),
        )
        .select(
            "doc_id",
            "nnz",
            "total_terms",
            F.col("_m.b").alias("top_bucket"),
            (-F.col("_m.nc")).alias("top_count"),
            "checksum",
        )
    )


def _RS_IDX(c: int) -> str:
    """0-based raster byte index of resized pixel p (0..63), channel c:
    nearest-neighbor maps dst (y,x) -> src ((y*height)//8, 2*x) on the
    16-wide raster."""
    return f"3 * (((p // 8) * height) // 8 * 16 + 2 * (p % 8)) + {c}"


def _RS_VAL(c: int) -> str:
    """Byte value at that index — text byte if inside the prefix,
    zero padding otherwise (ASCII corpus: char position = byte
    position, as in the decode oracles above)."""
    return (
        f"CASE WHEN {_RS_IDX(c)} < n THEN ascii(sp[{_RS_IDX(c)} + 1]) ELSE 0 END"
    )


@query(
    "multimodal_resize",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 3072) AS n,
             greatest(1, CAST(ceil(least(octet_length(encode(text)), 3072) / 48.0)
                              AS INTEGER)) AS height
      FROM documents
    )
    SELECT media_id,
           CAST(8 AS INTEGER) AS out_w,
           CAST(8 AS INTEGER) AS out_h,
           CAST(coalesce(list_sum(list_transform(range(0, 64),
                 p -> {_RS_VAL(0)})), 0) AS DOUBLE) / 64 AS mean_r,
           CAST(coalesce(list_sum(list_transform(range(0, 64),
                 p -> {_RS_VAL(1)})), 0) AS DOUBLE) / 64 AS mean_g,
           CAST(coalesce(list_sum(list_transform(range(0, 64),
                 p -> {_RS_VAL(2)})), 0) AS DOUBLE) / 64 AS mean_b,
           CAST(coalesce(list_sum(list_transform(range(0, 64),
                 p -> (p + 1) * (1 * ({_RS_VAL(0)})
                               + 2 * ({_RS_VAL(1)})
                               + 3 * ({_RS_VAL(2)})))), 0) AS BIGINT)
             AS resize_checksum
    FROM dims
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor resize of decoded PPM images to 8x8
    (operators/multimodal.resize_image_nn): integer floor index
    mapping, exact channel means (sum of 64 bytes over a power of two
    — the division is exact in doubles on both engines), and a
    position-and-channel-weighted checksum that fails on any
    transposed, off-by-one, or wrong-stride index map. The oracle
    replays the same pixel selection arithmetically from the document
    byte prefix — no image library on either side."""
    media = M.documents_as_ppm_media(t(spark, sf_dir, "documents"))
    return M.resize_image_nn(media, out_w=8, out_h=8)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id, text,
             greatest(octet_length(encode(text)) // 4, 1) AS step
      FROM documents
    )
    SELECT media_id,
           CAST(i.i AS INTEGER) AS frame_idx,
           CAST(length(substring(text, i.i * step + 1, 16)) AS INTEGER)
             AS frame_len,
           CAST(coalesce(list_sum(list_transform(
                 string_split(substring(text, i.i * step + 1, 16), ''),
                 c -> ascii(c))), 0) AS BIGINT) AS frame_checksum
    FROM f, (VALUES (0), (1), (2), (3)) AS i(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing (operators/multimodal.
    frame_sample): n evenly spaced 16-byte slices per payload via
    binary ``substring`` — pure built-ins, no UDF; the explode is the
    only row fanout. Each frame is summarized by its byte length and
    byte-sum checksum, both recomputed by the oracle from the same
    ASCII slices. The real keyframe-seeking decoder drops into the
    same slice contract.

    Scale shape: a projection + explode with constant fanout n — no
    shuffle at all; at 100 TB frames stream out of the scan."""
    media = M.documents_as_media(t(spark, sf_dir, "documents"))
    frames = M.frame_sample(media, n_frames=4)
    chars = F.split(F.col("frame_bytes").cast("string"), "")
    checksum = F.aggregate(
        chars, F.lit(0), lambda a, x: a + F.coalesce(F.ascii(x), F.lit(0))
    )
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length("frame_bytes").cast("int").alias("frame_len"),
        checksum.cast("long").alias("frame_checksum"),
    )


@query(
    "multimodal_audio_frames",
    oracle=f"""
    WITH f AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 4096) // 2 AS n
      FROM documents
    )
    SELECT media_id,
           CAST(i.i AS INTEGER) AS frame_idx,
           CAST(least((i.i + 1) * 256, n) - i.i * 256 AS INTEGER) AS n_samples,
           CAST(coalesce(list_sum(list_transform(
                 range(i.i * 256 + 1, least((i.i + 1) * 256, n) + 1),
                 j -> {_WAV_ABS})), 0) AS BIGINT) AS sum_abs,
           CAST(coalesce(list_sum(list_transform(
                 range(i.i * 256 + 1, least((i.i + 1) * 256, n)),
                 j -> CASE WHEN (ascii(sp[2*j]) >= 128)
                            <> (ascii(sp[2*j + 2]) >= 128)
                      THEN 1 ELSE 0 END)), 0) AS INTEGER) AS zero_crossings
    FROM f CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),
                              (8),(9),(10),(11),(12),(13),(14),(15)) AS i(i)
    WHERE i.i * 256 < n OR i.i = 0
    """,
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL framed audio features (operators/multimodal.
    audio_frame_features): WAV PCM decoded and split into 256-sample
    frames; per frame the exact integer energy (sum |sample|) and the
    zero-crossing count (sign-bit transitions of the little-endian
    int16 stream, within-frame pairs only so frames stay mergeable).
    The oracle replays both from the document byte pairs — sign bit =
    high byte >= 128 — so any endianness or frame-boundary bug flips
    the hash."""
    media = M.documents_as_wav_media(t(spark, sf_dir, "documents"))
    return M.audio_frame_features(media, frame_len=256)


@query(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {K.TOKEN_HASHES_SQL} AS v FROM documents
    ),
    gpos AS (
      SELECT doc_id, v, len(v) - 2 AS g,
             unnest(range(1, greatest(len(v) - 1, 1))) AS pos
      FROM th
    ),
    grams AS (
      SELECT doc_id, pos, g,
             ((v[pos] * 8191 + v[pos + 1]) % 2147483647 * 8191 + v[pos + 2])
               % 2147483647 AS h
      FROM gpos
    ),
    starts AS (
      SELECT doc_id, pos, g,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM grams
      QUALIFY pos <= g - 3
    ),
    sel AS (
      SELECT st.doc_id, st.wmin AS h, MAX(gr.pos) AS sel_pos
      FROM starts st
      JOIN grams gr ON gr.doc_id = st.doc_id
                   AND gr.pos BETWEEN st.pos AND st.pos + 3
                   AND gr.h = st.wmin
      GROUP BY st.doc_id, st.pos, st.wmin
    ),
    uniq AS (SELECT DISTINCT doc_id, sel_pos, h FROM sel)
    SELECT d.doc_id,
           CAST(COALESCE(u.cnt, 0) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(u.chk, 0) AS BIGINT) AS fp_checksum
    FROM documents d
    LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt, SUM(h) AS chk
               FROM uniq GROUP BY doc_id) u ON u.doc_id = d.doc_id
    """,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS algorithm): hash every token 3-gram, slide a window of 4
    starts, keep the window minimum with the RIGHTMOST position on
    ties; the selected set guarantees at least one fingerprint per
    window, making it robust to insertions in a way whole-doc md5
    (doc_fingerprints) is not. Gram hashes combine token-level
    char_fold_hash values NUMERICALLY ((h1*8191 + h2) mod P folding —
    no per-gram text rescan), the window min is one window pass, and
    the rightmost-argmin is a bounded self-join (each start matches at
    most 4 gram rows).

    Scale shape: everything partitions by doc_id — the window, the
    argmin join, and the final rollup share one hash partitioning, so
    the whole fingerprint pipeline is a single shuffle of gram rows
    (|tokens| per doc). At 100 TB the fingerprint set is what ships to
    the cross-doc near-dup join, not the text."""
    P = 2147483647
    M = 8191
    d = t(spark, sf_dir, "documents").select(
        "doc_id", X.token_hash_array(F.col("text")).alias("v")
    )
    gram_hashes = F.when(
        F.size("v") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("v") - 2),
            lambda i: (
                (
                    F.get(F.col("v"), i - 1) * M + F.get(F.col("v"), i)
                ) % P * M
                + F.get(F.col("v"), i + 1)
            )
            % P,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = (
        d.select(
            "doc_id",
            (F.size("v") - 2).alias("g"),
            F.posexplode(gram_hashes).alias("p0", "h"),
        )
        .select("doc_id", "g", (F.col("p0") + 1).alias("pos"), "h")
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    starts = (
        grams.withColumn("wmin", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("g") - 3)
        .select("doc_id", "pos", "wmin")
    )
    gr = grams.select(
        F.col("doc_id").alias("rd"), F.col("pos").alias("rpos"), F.col("h").alias("rh")
    )
    sel = (
        starts.join(
            gr,
            (F.col("rd") == F.col("doc_id"))
            & F.col("rpos").between(F.col("pos"), F.col("pos") + 3)
            & (F.col("rh") == F.col("wmin")),
        )
        .groupBy("doc_id", "pos", "wmin")
        .agg(F.max("rpos").alias("sel_pos"))
        .select("doc_id", "sel_pos", F.col("wmin").alias("h"))
        .distinct()
    )
    per_doc = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("h").alias("chk")
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("n_fingerprints"),
            F.coalesce("chk", F.lit(0)).cast("long").alias("fp_checksum"),
        )
    )


@query(
    "doc_phrase_search",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {K.TOKENS_SQL} AS t FROM documents),
    postings AS (
      SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t
      FROM tk
    ),
    px AS (SELECT doc_id, pos, t[pos] AS token FROM postings),
    t1 AS (SELECT doc_id, pos FROM px WHERE token = 'table'),
    t2 AS (SELECT doc_id, pos FROM px WHERE token = 'hash')
    SELECT t1.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(t1.pos) AS BIGINT) AS first_pos
    FROM t1 JOIN t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
    GROUP BY t1.doc_id
    """,
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search ("table hash"): the two query
    terms' postings lists — (doc, position) pairs — are equi-joined on
    (doc, adjacent position), the classic inverted-index phrase plan.
    The term filters sit BELOW the shuffle, so only the two terms'
    postings move; the full postings list never shuffles and the text
    is never rescanned. At 100 TB the postings come from the
    pre-built inverted index (doc_inverted_index) instead of a tokenize
    pass — the join shape is identical."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("p0", "token")
    )
    px = d.select("doc_id", (F.col("p0") + 1).alias("pos"), "token")
    t1 = px.filter(F.col("token") == "table").select("doc_id", "pos")
    t2 = px.filter(F.col("token") == "hash").select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2")
    )
    return (
        t1.join(
            t2,
            (F.col("d2") == F.col("doc_id")) & (F.col("pos2") == F.col("pos") + 1),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


@query(
    "multimodal_arrow_features",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT)
             AS sum_bytes,
           CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE)
             / octet_length(encode(text)) AS mean_byte,
           lower(hex(substr(text, 1, 8))) AS head_hex
    FROM documents
    """,
)
def multimodal_arrow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``mapInArrow`` twin of multimodal_features (operators/
    multimodal.extract_features_arrow): identical feature values
    through the Arrow-NATIVE UDF path — RecordBatches in, RecordBatches
    out, no pandas materialization on either side of the Python hop.
    Sharing the oracle with the pandas-path query pins both
    implementations to the same bytes; at 100 TB the Arrow path is the
    one to prefer for byte-dense payloads (one fewer copy per batch)."""
    media = M.documents_as_media(t(spark, sf_dir, "documents"))
    return M.extract_features_arrow(media)


def _WAV_S(j: str) -> str:
    """Signed int16 sample at 1-based sample index ``j`` of the text's
    little-endian byte-pair stream (the encode_wav payload)."""
    return (
        f"(ascii(sp[2*({j}) - 1]) + 256 * ascii(sp[2*({j})]) "
        f"- CASE WHEN ascii(sp[2*({j})]) >= 128 THEN 65536 ELSE 0 END)"
    )


_RS_OUT = (
    f"CASE WHEN k % 2 = 1 THEN {_WAV_S('(k+1)//2')} "
    f"ELSE CAST(floor(({_WAV_S('k//2')} + {_WAV_S('k//2+1')}) / 2.0) AS BIGINT) END"
)


@query(
    "multimodal_audio_resample",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 4096) // 2 AS n
      FROM documents
    )
    SELECT media_id,
           CAST(n AS BIGINT) AS n_frames_in,
           CAST(CASE WHEN n = 0 THEN 0 ELSE 2*n - 1 END AS BIGINT) AS n_frames_out,
           CAST(coalesce(list_sum(list_transform(range(1, greatest(2*n, 1)),
                 k -> abs({_RS_OUT}))), 0) AS BIGINT) AS sum_abs_out,
           CAST(coalesce(list_max(list_transform(range(1, greatest(2*n, 1)),
                 k -> abs({_RS_OUT}))), 0) AS BIGINT) AS peak_abs_out
    FROM dims
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2× LERP audio upsample over real RIFF/WAVE payloads: every
    document renders to a valid mono 16-bit PCM WAV, the resampler
    decodes the chunk list and emits original frames interleaved with
    floor-midpoints (numpy, Arrow-batched). The oracle replays the
    same integer arithmetic over the text's byte-pair sample stream —
    exact sums, no float-audio ambiguity. The missing-codec boundary
    stays explicit: compressed formats would slot into the same
    operator behind the decode dispatch."""
    media = M.documents_as_wav_media(t(spark, sf_dir, "documents"))
    return M.resample_audio_2x(media)


@query(
    "multimodal_flac_decode",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 4096) // 2 AS n
      FROM documents
    )
    SELECT media_id,
           'flac' AS format,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_frames,
           CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                 j -> abs({_WAV_S('j')}))), 0) AS BIGINT) AS sum_abs,
           CAST(coalesce(list_max(list_transform(range(1, n + 1),
                 j -> abs({_WAV_S('j')}))), 0) AS BIGINT) AS peak_abs,
           CAST(CASE WHEN n = 0 THEN -1 ELSE n % 3 END AS INTEGER) AS fixed_order,
           CAST(1 AS INTEGER) AS crc_ok,
           CAST(1 AS INTEGER) AS md5_ok
    FROM dims
    """,
)
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode, no codec libraries: documents render
    into valid FLAC streams (fixed linear predictors + Rice-coded
    residuals, RFC 9639 subset) and decode_flac walks the bitstream —
    MSB-first bit reader, CRC-8 header and CRC-16 frame checks, zigzag
    Rice decode, predictor reconstruction — then certifies losslessness
    by matching the STREAMINFO MD5 of the reconstructed PCM. Because
    FLAC is lossless integer arithmetic, the oracle can replay the EXACT
    sample statistics from the text's byte-pair stream in SQL; a decoder
    that dropped or mis-signed one residual would hash-mismatch. Closes
    the last 'compressed codecs need libraries' gap for audio (JPEG
    remains the entropy-coded image case, see [[multimodal_jpeg_decode]]).
    Scale shape: embarrassingly parallel mapInPandas per media row."""
    media = M.documents_as_flac_media(t(spark, sf_dir, "documents"))
    return M.decode_flac_features(media)


@query(
    "multimodal_jpeg_decode",
    oracle="""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 256) AS n
      FROM documents
    )
    SELECT media_id,
           'jpeg' AS format,
           CAST(8 AS INTEGER) AS width,
           CAST(8 * greatest(n, 1) AS INTEGER) AS height,
           CAST(greatest(n, 1) AS BIGINT) AS n_blocks,
           CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                 j -> 64 * ascii(sp[j]))), 0) AS BIGINT) AS sum_pixels,
           CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                 j -> j * ascii(sp[j]))), 0) AS BIGINT) AS dc_checksum,
           CAST((greatest(n, 1) - 1) // 4 AS INTEGER) AS n_restarts
    FROM dims
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL entropy-coded image decode, no codec libraries: documents
    render into valid baseline JPEGs (Annex K Huffman tables, DPCM DC
    with magnitude-category extend bits, 0xFF00 byte stuffing, DRI=4
    restart markers) and decode_jpeg walks the full T.81 pipeline —
    marker segments, canonical Huffman decode, zigzag dequantization,
    IDCT, level shift. The adapter emits one constant 8x8 block per
    text byte with a flat quantization step of 8, the one configuration
    where lossy JPEG is provably bit-lossless (DC = 8*(v-128) quantizes
    and reconstructs exactly), so the oracle replays exact pixel sums,
    an order-weighted DC checksum, and the restart-marker count from the
    text bytes in SQL. The general lossy path (forward DCT + run/size AC
    coding incl. ZRL) is exercised coefficient-exactly in
    tests/test_properties.py. Companion to [[multimodal_flac_decode]] —
    together they close the entropy-coded codec gap.
    Scale shape: embarrassingly parallel mapInPandas per media row."""
    media = M.documents_as_jpeg_media(t(spark, sf_dir, "documents"))
    return M.decode_jpeg_features(media)


@query(
    "multimodal_avi_keyframes",
    oracle="""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 2048) AS n,
             greatest(1, (least(octet_length(encode(text)), 2048) + 7) // 8)
               AS n_frames
      FROM documents
    ),
    slots AS (
      SELECT media_id, sp, n, n_frames,
             least(4, n_frames) AS k,
             unnest(range(0, least(4, n_frames))) AS slot
      FROM dims
    ),
    picked AS (
      SELECT media_id, sp, n, slot,
             (slot * n_frames) // k AS fidx
      FROM slots
    )
    SELECT media_id,
           CAST(slot AS INTEGER) AS slot,
           CAST(fidx AS INTEGER) AS frame_idx,
           CAST(24 * list_sum(list_transform(range(0, 8),
                 r -> CASE WHEN 8 * fidx + r < n
                      THEN ascii(sp[8 * fidx + r + 1]) ELSE 0 END))
                AS BIGINT) AS frame_sum,
           CAST(list_sum(list_transform(range(0, 8),
                 r -> (r + 1) * CASE WHEN 8 * fidx + r < n
                      THEN ascii(sp[8 * fidx + r + 1]) ELSE 0 END))
                AS BIGINT) AS row_checksum
    FROM picked
    """,
)
def multimodal_avi_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container frame sampling: documents render into valid
    AVI files (RIFF hdrl/avih/strh/strf headers, uncompressed bottom-up
    BGR DIB frames in LIST movi, AVIIF_KEYFRAME-flagged idx1 index) and
    the sampler SEEKS — it reads idx1, picks min(4, n_frames) evenly
    spaced keyframes, and decodes only those chunks via their index
    offsets, never scanning the movi list. That is the keyframe-seek
    access pattern [[multimodal_frame_sample]]'s byte-slice plumbing
    stands in for, now on a real container. The image-row-weighted
    checksum fails if the decoder ignores DIB's bottom-up row order,
    and the idx1 offset / avih frame-count cross-checks fail on any
    framing error. The oracle replays sampled frame indices and exact
    pixel sums from the text bytes in SQL.

    Scale shape: embarrassingly parallel mapInPandas; per-row work is
    O(index + sampled frames), not O(container size) — the property
    that matters when frames are large."""
    media = M.documents_as_avi_media(t(spark, sf_dir, "documents"))
    return M.sample_avi_keyframes(media, n_samples=4)


@query(
    "multimodal_image_near_dup",
    oracle="""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             least(octet_length(encode(text)), 3072) AS n,
             greatest(1, CAST(ceil(least(octet_length(encode(text)), 3072)
                                   / 48.0) AS INTEGER)) AS height
      FROM documents
    ),
    px AS (
      SELECT media_id, height, n, sp, unnest(range(0, 16 * height)) AS i
      FROM dims
    ),
    cells AS (
      SELECT media_id,
             ((i // 16) * 8) // height AS gy,
             ((i % 16) * 9) // 16 AS gx,
             SUM(  CASE WHEN 3*i + 1 <= n THEN ascii(sp[3*i + 1]) ELSE 0 END
                 + CASE WHEN 3*i + 2 <= n THEN ascii(sp[3*i + 2]) ELSE 0 END
                 + CASE WHEN 3*i + 3 <= n THEN ascii(sp[3*i + 3]) ELSE 0 END
             ) AS s,
             COUNT(*) AS cnt
      FROM px GROUP BY media_id, gy, gx
    ),
    bits AS (
      SELECT a.media_id, a.gy * 8 + a.gx AS k,
             CASE WHEN a.s * b.cnt > b.s * a.cnt THEN 1 ELSE 0 END AS bit
      FROM cells a
      JOIN cells b ON a.media_id = b.media_id AND a.gy = b.gy
                  AND b.gx = a.gx + 1
      WHERE a.gx < 8
    ),
    h AS (
      SELECT media_id,
        CAST(SUM(CASE WHEN k // 16 = 0 THEN bit * (1 << (k % 16)) ELSE 0 END) AS INTEGER) AS c0,
        CAST(SUM(CASE WHEN k // 16 = 1 THEN bit * (1 << (k % 16)) ELSE 0 END) AS INTEGER) AS c1,
        CAST(SUM(CASE WHEN k // 16 = 2 THEN bit * (1 << (k % 16)) ELSE 0 END) AS INTEGER) AS c2,
        CAST(SUM(CASE WHEN k // 16 = 3 THEN bit * (1 << (k % 16)) ELSE 0 END) AS INTEGER) AS c3
      FROM bits GROUP BY media_id
    )
    SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
              + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
             AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
        + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3
    """,
)
def multimodal_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE NEAR-DUP DEDUP VIA PERCEPTUAL HASH — the multimodal×dedup
    composition an LLM pipeline runs to catch re-encoded or
    slightly-edited image copies that exact-bytes dedup misses:
    documents render into REAL P6 PPM payloads, each raster pools onto
    an 8×9 luma grid whose horizontal-gradient signs form a 64-bit
    dHash (``operators/multimodal.dhash_chunks`` — exact integer
    cross-multiplied mean compares, no float anywhere), and pairs with
    Hamming distance ≤ 3 are reported.

    Scale shape: candidates come from HAMMING-BAND LSH, never all
    pairs — the hash's four 16-bit chunks are the band keys (the
    [[dedup_simhash]] pigeonhole: ≤ 3 differing bits can dirty at most
    3 of 4 chunks, so one chunk matches exactly → perfect recall), an
    EQUI-join on (chunk_idx, value). At 100 TB the bucketed self-join
    shuffles once on the band key; verification is per-candidate
    bit_count arithmetic. The oracle recomputes every grid cell, hash
    bit, and pair from the same byte layout in SQL (all-pairs there —
    it is the oracle, not the plan; a plan-shape guard pins no
    CartesianProduct on the Spark side)."""
    media = M.documents_as_ppm_media(t(spark, sf_dir, "documents"))
    h = M.decode_dhash_features(media)
    from ..operators.dedup import hamming_band_pairs

    return hamming_band_pairs(h, max_hamming=3)


#: abs(signed int16) at sample index k (1-based) — the _WAV_ABS pattern
#: with a computed index expression substituted in.
def _wav_abs_at(k: str) -> str:
    return (
        f"abs(ascii(sp[2*({k}) - 1]) + 256 * ascii(sp[2*({k})]) "
        f"- CASE WHEN ascii(sp[2*({k})]) >= 128 THEN 65536 ELSE 0 END)"
    )


_AFP_ENERGY = (
    "list_sum(list_transform(range(1, 9), j -> " + _wav_abs_at("8*f + j") + "))"
)


@query(
    "multimodal_audio_near_dup",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             string_split(text, '') AS sp,
             (least(octet_length(encode(text)), 4096) // 2) AS n_samples
      FROM documents
    ),
    gated AS (
      SELECT media_id, sp, n_samples // 8 AS f_total
      FROM dims WHERE n_samples // 8 >= 16
    ),
    fr AS (
      SELECT media_id, f_total, sp, unnest(range(0, 33)) AS f
      FROM gated
    ),
    en AS (
      SELECT media_id, f,
             CASE WHEN f < f_total THEN {_AFP_ENERGY} ELSE 0 END AS e
      FROM fr
    ),
    bits AS (
      SELECT a.media_id, a.f AS k,
             CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
      FROM en a JOIN en b ON a.media_id = b.media_id AND b.f = a.f + 1
      WHERE a.f < 32
    ),
    h AS (
      SELECT media_id,
        CAST(SUM(CASE WHEN k // 8 = 0 THEN bit * (1 << (k % 8)) ELSE 0 END) AS INTEGER) AS c0,
        CAST(SUM(CASE WHEN k // 8 = 1 THEN bit * (1 << (k % 8)) ELSE 0 END) AS INTEGER) AS c1,
        CAST(SUM(CASE WHEN k // 8 = 2 THEN bit * (1 << (k % 8)) ELSE 0 END) AS INTEGER) AS c2,
        CAST(SUM(CASE WHEN k // 8 = 3 THEN bit * (1 << (k % 8)) ELSE 0 END) AS INTEGER) AS c3
      FROM bits GROUP BY media_id
    )
    SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
              + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
             AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
        + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 2
    """,
)
def multimodal_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO NEAR-DUP VIA ENERGY-DELTA FINGERPRINT — completes the
    near-dup triad (text MinHash, image [[multimodal_image_near_dup]],
    audio here): documents render into REAL mono PCM WAVs, each clip's
    8-sample window energies form a 32-bit gradient-sign fingerprint
    (``operators/multimodal.audio_fingerprint_chunks`` — integer Σ|s|
    per window, strict > compares, no floats), clips under 16 complete
    windows are gated out (no signal to fingerprint — the
    minimum-duration rule), and pairs with Hamming ≤ 2 report.

    Scale shape: the same Hamming-band LSH as the image query — the
    fingerprint's four 8-bit chunks are band keys, candidates come
    from an equi-join (pigeonhole: ≤ 3 differing bits leave one chunk
    equal → perfect recall at threshold 2), verification is bit_count
    arithmetic. The oracle rebuilds window energies, bits, chunks, and
    pairs from the same byte layout in SQL."""
    media = M.documents_as_wav_media(t(spark, sf_dir, "documents"))
    fp = M.decode_audio_fingerprints(media)
    from ..operators.dedup import hamming_band_pairs

    return hamming_band_pairs(fp, max_hamming=2)


#: expand one character into its UTF-8 bytes as a LIST — the AVI
#: payload is ENCODED BYTES, so the oracle must index byte positions,
#: not code points (they diverge beyond ASCII; same trap the WARC
#: oracle's _UTF8_BYTE_SUM already hardened against)
_UTF8_BYTES = """
  CASE WHEN ascii(c) < 128 THEN [ascii(c)]
       WHEN ascii(c) < 2048
         THEN [192 + ascii(c) // 64, 128 + ascii(c) % 64]
       WHEN ascii(c) < 65536
         THEN [224 + ascii(c) // 4096, 128 + (ascii(c) // 64) % 64,
               128 + ascii(c) % 64]
       ELSE [240 + ascii(c) // 262144, 128 + (ascii(c) // 4096) % 64,
             128 + (ascii(c) // 64) % 64, 128 + ascii(c) % 64] END
"""


@query(
    "multimodal_video_near_dup",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(doc_id AS BIGINT) AS media_id,
             flatten(list_transform(string_split(text, ''),
                     c -> {_UTF8_BYTES})) AS bl,
             least(octet_length(encode(text)), 2048) AS n,
             greatest(1, (least(octet_length(encode(text)), 2048) + 7) // 8)
               AS n_frames
      FROM documents
    ),
    gated AS (SELECT * FROM dims WHERE n_frames >= 4),
    sl AS (
      SELECT media_id, bl, n, n_frames, unnest(range(0, 4)) AS s
      FROM gated
    ),
    ch AS (
      SELECT media_id, s,
        CAST(list_sum(list_transform(range(0, 7), r ->
          CASE WHEN (CASE WHEN 8*((s*n_frames)//4)+r < n
                          THEN bl[8*((s*n_frames)//4)+r+1] ELSE 0 END)
                  > (CASE WHEN 8*((s*n_frames)//4)+r+1 < n
                          THEN bl[8*((s*n_frames)//4)+r+2] ELSE 0 END)
          THEN (1 << r) ELSE 0 END)) AS INTEGER) AS c
      FROM sl
    ),
    h AS (
      SELECT media_id,
        MAX(CASE WHEN s = 0 THEN c END) AS c0,
        MAX(CASE WHEN s = 1 THEN c END) AS c1,
        MAX(CASE WHEN s = 2 THEN c END) AS c2,
        MAX(CASE WHEN s = 3 THEN c END) AS c3
      FROM ch GROUP BY media_id
    )
    SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
           CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
              + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
             AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
        + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 2
    """,
)
def multimodal_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO NEAR-DUP VIA PER-KEYFRAME SIGNATURES — completes the
    near-dup quartet (text MinHash, [[multimodal_image_near_dup]],
    [[multimodal_audio_near_dup]], video here): documents render into
    REAL AVI containers, the extractor SEEKS 4 evenly spaced keyframes
    through idx1 (never scanning movi — per-row work is O(index +
    sampled frames), not O(container)), and each sampled frame
    contributes an 8-bit vertical luma-gradient-sign signature
    (``operators/multimodal.avi_signature_chunks`` — exact integer row
    sums from the bottom-up DIB, strict > compares, no floats). Videos
    under 4 frames are gated out (no temporal signal — the
    minimum-duration rule), and pairs with Hamming ≤ 2 report.

    Scale shape: the same Hamming-band LSH as the image/audio queries,
    with a twist that matches how production video dedup buckets — the
    BAND KEY IS THE FRAME SLOT, so two videos are candidates iff some
    sampled keyframe's signature matches exactly (pigeonhole over 4
    slots: ≤ 3 differing bits leave one slot's chunk equal → perfect
    recall at threshold 2); candidates verify by bit_count arithmetic.
    One shuffle on the band key at any scale. The oracle rebuilds
    sampled frame indices, row-gradient bits, chunks, and pairs from
    the same byte layout in SQL (all-pairs only in the oracle; a
    plan-shape guard pins the equi-join on the Spark side)."""
    media = M.documents_as_avi_media(t(spark, sf_dir, "documents"))
    fp = M.decode_avi_signatures(media)
    from ..operators.dedup import hamming_band_pairs

    return hamming_band_pairs(fp, max_hamming=2)


@query(
    "doc_unicode_nfc",
    oracle="""
    WITH dec AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             replace(replace(text, 'a', 'a' || chr(769)),
                     'o', 'o' || chr(776)) AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(length(s) AS BIGINT) AS n_chars_decomposed,
           CAST(length(nfc_normalize(s)) AS BIGINT) AS n_chars_nfc,
           md5(nfc_normalize(s)) AS nfc_fp
    FROM dec
    """,
)
def doc_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE NFC NORMALIZATION — the i18n cleaning step multilingual
    corpus pipelines run before hashing/dedup, since visually identical
    text arrives in mixed composed/decomposed forms and splits every
    downstream fingerprint. The ASCII fixture is made genuinely
    multi-codepoint on BOTH engines by the same deterministic rewrite
    (``a`` -> ``a``+U+0301 combining acute, ``o`` -> ``o``+U+0308
    combining diaeresis); normalization must then compose the pairs
    back to single codepoints. Spark runs Python's unicodedata (UAX#15
    via the UCD) inside mapInPandas; the oracle runs DuckDB's
    utf8proc-backed ``nfc_normalize`` — two INDEPENDENT Unicode
    implementations whose codepoint counts and the md5 of the composed
    text must agree exactly, which is the strongest available check
    that the normalizer follows the standard rather than approximating
    it.

    Scale shape: per-row string work, Arrow-batched, no shuffle."""
    from collections.abc import Iterator

    import pandas as pd

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit("a"), F.lit("a\u0301")),
            F.lit("o"),
            F.lit("o\u0308"),
        ).alias("s"),
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import unicodedata

        for pdf in batches:
            nfc = [unicodedata.normalize("NFC", s) for s in pdf["s"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_chars_decomposed": [len(s) for s in pdf["s"]],
                    "n_chars_nfc": [len(s) for s in nfc],
                    "nfc_fp": [
                        hashlib.md5(s.encode("utf-8")).hexdigest() for s in nfc
                    ],
                }
            )

    return d.mapInPandas(
        op,
        schema=(
            "doc_id long, n_chars_decomposed long, n_chars_nfc long, "
            "nfc_fp string"
        ),
    )


@query(
    "doc_html_boilerplate_strip",
    oracle="""
    WITH wrapped AS (
      SELECT doc_id, text,
             '<html><head><title>doc ' || doc_id || '</title></head><body>'
             || '<nav>Home | Products | About</nav>'
             || '<div id="content"><p>' || text || '</p></div>'
             || '<footer>(c) 2024 Example Corp</footer></body></html>' AS html
      FROM documents
    ),
    extracted AS (
      SELECT doc_id, text, html,
             trim(regexp_replace(regexp_replace(
               regexp_extract(html, '(?s)<div id="content">(.*)</div>', 1),
               '<[^>]*>', ' ', 'g'), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS content
      FROM wrapped
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS raw_len,
           CAST(length(html) AS BIGINT) AS html_len,
           CAST(length(content) AS BIGINT) AS extracted_len,
           CAST(CASE WHEN content =
                  trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))
                THEN 1 ELSE 0 END AS INTEGER) AS roundtrip_ok,
           md5(content) AS content_fp
    FROM extracted
    """,
)
def doc_html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML BOILERPLATE REMOVAL — the first stage of every web-corpus
    pipeline (trafilatura/jusText-style main-content extraction,
    reduced to its testable core): each document renders into a full
    HTML page with nav/footer boilerplate, and the extractor pulls the
    content div ((?s)-dotall anchored extract — content may span
    lines), strips residual tags to spaces, and collapses whitespace.
    The round-trip column proves LOSSLESSNESS against the
    whitespace-normalized original (1 for every row — an extractor that
    eats a character, leaks a tag, or grabs the footer fails it), and
    the md5 fingerprint pins the exact extracted bytes.

    Cross-engine regex note: only the portable subset is used —
    ``(?s)`` dotall, greedy ``(.*)`` (both engines take the LAST
    ``</div>``, which is the content div's since the footer has none),
    a ``<[^>]*>`` tag class, and an EXPLICIT whitespace class
    ``[ \\t\\n\\f\\r]+`` — Java's ``\\s`` includes vertical tab while
    RE2's does not, so the shorthand is the one piece that would NOT
    agree between the engines.

    Scale shape: pure per-row string work in one codegen projection —
    no UDF, no shuffle; at 100 TB this runs at scan speed."""
    d = t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id"),
        F.lit("</title></head><body>"),
        F.lit("<nav>Home | Products | About</nav>"),
        F.lit('<div id="content"><p>'),
        F.col("text"),
        F.lit("</p></div>"),
        F.lit("<footer>(c) 2024 Example Corp</footer></body></html>"),
    )
    wrapped = d.select("doc_id", "text", html.alias("html"))
    content = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_extract(
                    F.col("html"), '(?s)<div id="content">(.*)</div>', 1
                ),
                "<[^>]*>",
                " ",
            ),
            "[ \\t\\n\\f\\r]+",
            " ",
        )
    )
    norm_orig = F.trim(
        F.regexp_replace(F.col("text"), "[ \\t\\n\\f\\r]+", " ")
    )
    return wrapped.select(
        "doc_id",
        F.length("text").cast("long").alias("raw_len"),
        F.length("html").cast("long").alias("html_len"),
        F.length(content).cast("long").alias("extracted_len"),
        (content == norm_orig).cast("int").alias("roundtrip_ok"),
        F.md5(content).alias("content_fp"),
    )


# ---------------------------------------------------------------------------
# PMI-lift feature selection: tokens most associated with each language
# ---------------------------------------------------------------------------


@query(
    "doc_token_class_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({K.TOKENS_SQL}) AS token FROM documents
    ),
    tl_counts AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n_token_lang
      FROM toks GROUP BY 1, 2
    ),
    tok_tot AS (
      SELECT token, CAST(SUM(n_token_lang) AS BIGINT) AS n_t
      FROM tl_counts GROUP BY token
    ),
    lang_tot AS (
      SELECT lang, CAST(SUM(n_token_lang) AS BIGINT) AS n_l
      FROM tl_counts GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_l) AS BIGINT) AS n FROM lang_tot),
    lifted AS (
      SELECT c.lang, c.token, c.n_token_lang,
             (CAST(c.n_token_lang AS DOUBLE) * CAST(t.n AS DOUBLE))
               / (CAST(tt.n_t AS DOUBLE) * CAST(lt.n_l AS DOUBLE)) AS pmi_lift
      FROM tl_counts c
      JOIN tok_tot tt USING (token)
      JOIN lang_tot lt USING (lang)
      CROSS JOIN tot t
      WHERE c.n_token_lang >= 5
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY lang
                                ORDER BY pmi_lift DESC, token) AS rn
      FROM lifted
    )
    SELECT lang, token, n_token_lang, pmi_lift, CAST(rn AS INT) AS lang_rank
    FROM ranked WHERE rn <= 10
    """,
)
def doc_token_class_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information feature selection: the 10 tokens
    most over-represented in each language, ranked by PMI lift
    P(token, lang) / (P(token)·P(lang)) = (n_tl·N) / (n_t·n_l) — how a
    corpus pipeline picks marker features for a cheap lang-id or
    quality classifier (the statistical step BEFORE doc_nb_lang_classify
    trains on them). The lift is reported instead of log-PMI because
    the ratio is a single IEEE division of exactly-converted integer
    counts (bit-identical in both engines), while ln() is libm-
    implementation-defined in its last ulp.

    Scale shape: explode → ONE map-side-combined groupBy(lang, token);
    the marginals derive from the (lang × vocab) count table, never a
    second corpus pass — n_t by token-partitioned window, n_l and N by
    broadcast of the per-language totals (a few rows). The min-count
    gate (n_tl ≥ 5) runs before ranking so the window sees only
    candidate features."""
    toks = t(spark, sf_dir, "documents").select(
        "lang", F.explode(X.tokens(F.col("text"))).alias("token")
    )
    counts_tl = toks.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n_token_lang")
    )
    n_t = F.sum("n_token_lang").over(Window.partitionBy("token")).cast("long")
    with_nt = counts_tl.withColumn("n_t", n_t)
    lang_tot = counts_tl.groupBy("lang").agg(
        F.sum("n_token_lang").cast("long").alias("n_l")
    )
    total = lang_tot.agg(F.sum("n_l").cast("long").alias("n"))
    lifted = (
        with_nt.join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(total))
        .where(F.col("n_token_lang") >= 5)
        .select(
            "lang",
            "token",
            "n_token_lang",
            (
                (F.col("n_token_lang").cast("double") * F.col("n").cast("double"))
                / (F.col("n_t").cast("double") * F.col("n_l").cast("double"))
            ).alias("pmi_lift"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("pmi_lift"), F.asc("token"))
    return (
        lifted.withColumn("lang_rank", F.row_number().over(w).cast("int"))
        .where(F.col("lang_rank") <= 10)
    )
