"""Unit tests: dedup operators find the planted duplicates, SRP-ANN
recall holds against the exact baseline, multimodal plumbing works."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_integration_project_spark.operators import dedup as D
from data_integration_project_spark.operators import multimodal as M
from data_integration_project_spark.operators import similarity as S


def _docs(spark):
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    return base


def test_exact_dedup_finds_planted_copies(spark):
    d = _docs(spark)
    copies = d.filter("doc_id % 10 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    ranked = D.exact_dedup(d.unionByName(copies), "doc_id", "text")
    dups = ranked.filter("_dup_rank > 1")
    # every planted copy (and only those) is removed, originals survive
    assert dups.count() == copies.count()
    assert dups.filter("doc_id < 100000").count() == 0


def test_minhash_lsh_finds_near_dups(spark):
    d = _docs(spark)
    near = d.filter("doc_id % 10 = 5").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    pairs = D.minhash_lsh_dedup(
        d.unionByName(near), "doc_id", "text", shingle_k=3, n_hashes=16, n_bands=4,
        threshold=0.5,
    ).collect()
    found = {(r["_id_a"], r["_id_b"]) for r in pairs}
    planted = {(r["doc_id"], r["doc_id"] + 100000) for r in d.filter("doc_id % 10 = 5").collect()}
    # high-similarity planted pairs should dominate; all found pairs are real (≥0.5 verified)
    assert len(planted & found) >= 0.8 * len(planted)
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_simhash_planted_copies_distance_zero(spark):
    d = _docs(spark)
    copies = d.filter("doc_id % 10 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    sigs = D.simhash_signature(d.unionByName(copies), "doc_id", "text")
    pairs = D.simhash_pairs(sigs, "doc_id", max_hamming=3)
    got = {(r["_id_a"], r["_id_b"]): r["hamming"] for r in pairs.collect()}
    for r in d.filter("doc_id % 10 = 0").collect():
        assert got.get((r["doc_id"], r["doc_id"] + 100000)) == 0  # identical text → distance 0


_SIMHASH_TEXTS = [
    "",
    "   ",
    " \t\n ",
    "\tlead and trail\t",
    "  spaced   out  words  ",
    "Café Ünïcode naïve résumé ñandú",
    "emoji 😀 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 math 𐐀𐐨 text",
    "MiXeD CaSe WoRdS and MORE words",
    "ΟΔΥΣΣΕΥΣ Straße İstanbul ǅemal",
    None,
]


@pytest.mark.parametrize("bits", [62, 31])
def test_simhash_arrow_fold_matches_sql_builtins(spark, bits):
    """simhash_signature's Arrow fold is bit-exact against the same
    signature built from Spark SQL built-ins: ``trim`` (spaces only),
    ``lower``, ``split`` on ``\\s+`` and a per-codepoint ``ascii`` fold,
    on empty, whitespace-only, non-ASCII, supplementary-plane and
    mixed-case rows. Null text produces no row in either."""
    from functools import reduce

    from data_integration_project_spark.functions.text import HASH_P, char_fold_hash, tokens

    df = spark.createDataFrame(
        list(enumerate(_SIMHASH_TEXTS)), "doc_id long, text string"
    )
    sigs = D.simhash_signature(df, "doc_id", "text", bits)
    got = {r["doc_id"]: r["simhash"] for r in sigs.collect()}

    h1 = F.transform(tokens(F.col("text")), char_fold_hash)
    h2 = F.transform(h1, lambda h: (h * D.A2 + D.B2) % HASH_P)
    n = F.size(h1)
    terms = []
    for j in range(bits):
        hs, sh = (h1, j) if j < 31 else (h2, j - 31)
        ones = F.aggregate(
            hs, F.lit(0).cast("long"), lambda acc, h: acc + F.shiftright(h, sh).bitwiseAND(1)
        )
        terms.append(F.when(2 * ones - n > 0, F.lit(1 << j)).otherwise(0).cast("long"))
    ref = df.filter(F.col("text").isNotNull()).select(
        "doc_id", reduce(lambda a, b: a + b, terms).alias("simhash")
    )
    want = {r["doc_id"]: r["simhash"] for r in ref.collect()}

    assert len(want) == len(_SIMHASH_TEXTS) - 1
    assert got == want


def test_srp_recall_vs_exact(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id % 50 = 0")
    exact = S.brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    approx = S.srp_bucketed_topk(q, e, "vec_id", "embedding", k=5, n_planes=3, n_tables=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"SRP recall too low: {recall}"
    # planted exact duplicates collide in EVERY table → must always be found
    copies = e.filter("vec_id % 50 = 0").select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    with_copies = e.select("vec_id", "embedding").unionByName(copies)
    approx2 = S.srp_bucketed_topk(q, with_copies, "vec_id", "embedding", k=5).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in approx2 if r["rank"] == 1}
    assert all(top1[qid] == qid + 1000000 for qid in top1), "exact dup not retrieved"
    # and the approx scores it does return are the true cosines
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(exact_scores[key] - r["cos_sim"]) < 1e-12


def test_ivf_recall_and_planted_duplicates(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id % 50 = 0")
    exact = S.brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    ivf = S.ivf_topk(
        q, e, "vec_id", "embedding", k=5, n_clusters=8, n_probe=4, n_iters=3
    ).collect()
    es = {(r["query_id"], r["neighbor_id"]) for r in exact}
    iv = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    assert len(iv & es) / len(es) >= 0.6, "IVF recall too low"
    # an exact duplicate has identical centroid distances → same
    # inverted list as its query → ALWAYS retrieved at rank 1
    copies = q.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    with_copies = e.select("vec_id", "embedding").unionByName(copies)
    got = S.ivf_topk(
        q, with_copies, "vec_id", "embedding", k=5, n_clusters=8, n_probe=2, n_iters=2
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
    assert all(top1[qid] == qid + 1000000 for qid in top1)


def test_pandas_topk_agrees_with_fold_topk(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id % 50 = 0")
    fold = S.brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    fast = S.brute_force_topk_pandas(q, e, "vec_id", "embedding", k=5).collect()
    assert len(fold) == len(fast)
    fold_m = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in fold}
    fast_m = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in fast}
    # same neighbor sets (barring exact near-ties) and scores to 1e-9
    assert set(fold_m) == set(fast_m)
    for key, sim in fold_m.items():
        assert abs(sim - fast_m[key]) < 1e-9


def test_multimodal_stub_contract(spark):
    import pytest

    with pytest.raises(NotImplementedError):
        M.decode_image_stub(b"\x00\x01")  # real decode is explicitly stubbed

    media = M.documents_as_media(_docs(spark).limit(20).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn("n_chars", F.length("text")))
    feats = M.extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["byte_len"] > 0 and 0 <= r["mean_byte"] <= 255
        assert len(r["head_hex"]) == 16  # 8 bytes hex


_SPREAD_PAIRS = [
    ("documents_as_wav_media", "decode_audio_features"),
    ("documents_as_wav_media", "decode_audio_fingerprints"),
    ("documents_as_wav_media", "audio_frame_features"),
    ("documents_as_aiff_media", "decode_audio_features"),
    ("documents_as_ppm_media", "decode_image_features"),
    ("documents_as_ppm_media", "decode_dhash_features"),
    ("documents_as_ppm_media", "resize_image_nn"),
    ("documents_as_ppm_media", "extract_features"),
    ("documents_as_ppm_media", "extract_features_arrow"),
    ("documents_as_gif_media", "decode_image_features"),
    ("documents_as_png_media", "decode_image_features"),
    ("documents_as_tga_media", "decode_image_features"),
    ("documents_as_flac_media", "decode_flac_features"),
    ("documents_as_jpeg_media", "decode_jpeg_features"),
    ("documents_as_avi_media", "decode_avi_signatures"),
    ("documents_as_avi_media", "sample_avi_keyframes"),
    ("documents_as_warc", "parse_warc_features"),
]


@pytest.mark.parametrize(
    "encoder,decoder", _SPREAD_PAIRS, ids=[f"{e}-{d}" for e, d in _SPREAD_PAIRS]
)
def test_spread_skips_redundant_payload_shuffle(spark, encoder, decoder):
    """An encoder already hash-spreads its payload rows, so a decoder
    composed directly on it must NOT re-shuffle the binary payloads (one
    Exchange end-to-end); any intermediate transform drops the mark and
    the decoder falls back to spreading itself (wide, never serial)."""
    from data_integration_project_spark.operators import warc as W

    mod = W if encoder == "documents_as_warc" else M
    encode, decode = getattr(mod, encoder), getattr(mod, decoder)
    docs = _docs(spark).limit(20)

    direct = decode(encode(docs))
    plan = direct._jdf.queryExecution().executedPlan().toString()
    # the limit contributes one SinglePartition exchange; the spread
    # shuffles are the hash-partitioned ones
    assert plan.count("Exchange hashpartitioning") == 1, plan

    # .filter() is a narrow op but loses the marker -> fallback spread
    filtered = decode(encode(docs).filter("media_id >= 0"))
    plan2 = filtered._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange hashpartitioning") == 2, plan2

    # values identical either way
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, filtered.collect()))
    assert a == b and a


def test_size_probe_reads_catalyst_estimate(spark, caplog):
    """python_stage sizes its width from Catalyst's estimate, read
    through a private JVM path. If that path moves, the probe falls back
    to full width; this test turns that silent fallback into a failure,
    and checks that a fallback leaves a log record naming the error."""
    import logging

    from data_integration_project_spark import session

    est = session._size_estimate(_docs(spark).limit(20))
    assert est is not None and est > 0, (
        "size probe failed: df._jdf.queryExecution().optimizedPlan().stats() "
        "is no longer reachable on this Spark version"
    )

    session._log_probe_fallback.cache_clear()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._size_estimate(object()) is None
    assert "AttributeError" in caplog.text


def test_decode_ppm_roundtrip_and_bmp():
    # PPM: encode arbitrary bytes, decode must recover dims + channel means
    raw = bytes(range(256)) * 3
    ppm = M.encode_ppm(raw)
    d = M.decode_ppm(ppm)
    assert d["format"] == "ppm" and d["width"] == 16
    assert d["n_pixels"] == d["width"] * d["height"]
    n = min(len(raw), 3 * 16 * 64)
    pad = 3 * 16 * d["height"] - n
    raster = raw[:n] + b"\x00" * pad
    assert d["mean_r"] == sum(raster[0::3]) / d["n_pixels"]
    # comments + P3 ascii variant parse through the same header grammar
    p3 = b"P3\n# a comment\n2 1\n255\n255 0 0  0 255 0\n"
    d3 = M.decode_ppm(p3)
    assert (d3["width"], d3["height"]) == (2, 1)
    assert (d3["mean_r"], d3["mean_g"], d3["mean_b"]) == (127.5, 127.5, 0.0)

    # handcrafted 2x2 24-bit BMP (bottom-up, 2-byte row padding), BGR
    import struct

    rows = [
        b"\x00\x00\xff" + b"\x00\xff\x00" + b"\x00\x00",  # bottom: red, green
        b"\xff\x00\x00" + b"\xff\xff\xff" + b"\x00\x00",  # top: blue, white
    ]
    pixel_data = b"".join(rows)
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    d_bmp = M.decode_bmp(header + dib + pixel_data)
    assert (d_bmp["width"], d_bmp["height"], d_bmp["n_pixels"]) == (2, 2, 4)
    # channels: red(255,0,0) green(0,255,0) blue(0,0,255) white(255,255,255)
    assert d_bmp["mean_r"] == (255 + 0 + 0 + 255) / 4
    assert d_bmp["mean_g"] == (0 + 255 + 0 + 255) / 4
    assert d_bmp["mean_b"] == (0 + 0 + 255 + 255) / 4

    import pytest

    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG\r\n")  # compressed codecs stay stubbed


def test_frame_sample_shape(spark):
    media = M.documents_as_media(_docs(spark).limit(3))
    frames = M.frame_sample(media, n_frames=4).collect()
    assert len(frames) == 12
    assert all(len(r["frame_bytes"]) <= 16 for r in frames)


def test_decode_wav_roundtrip_and_stereo():
    import struct

    raw = bytes(range(200)) * 2
    d = M.decode_wav(M.encode_wav(raw))
    assert (d["format"], d["sample_rate"], d["n_channels"]) == ("wav", 8000, 1)
    n = (len(raw) - (len(raw) & 1)) // 2
    vals = struct.unpack(f"<{n}h", raw[: n * 2])
    assert d["n_frames"] == n
    assert d["sum_abs"] == sum(abs(v) for v in vals)
    assert d["peak_abs"] == max(abs(v) for v in vals)
    assert d["duration_ms"] == n * 1000 // 8000

    # handcrafted stereo WAV with an extra chunk before data (chunk walk)
    samples = struct.pack("<4h", 1000, -1000, 32767, -32768)  # 2 frames x 2 ch
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd size + pad byte
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt + junk
    chunks += b"data" + struct.pack("<I", len(samples)) + samples
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    d2 = M.decode_wav(wav)
    assert (d2["n_channels"], d2["sample_rate"], d2["n_frames"]) == (2, 44100, 2)
    assert d2["peak_abs"] == 32768 and d2["sum_abs"] == 1000 + 1000 + 32767 + 32768

    import pytest

    with pytest.raises(ValueError):
        M.decode_wav(b"OggS....")


def test_ann_recall_sweep(spark):
    """Recall scales the way the knobs promise: more SRP tables and
    more IVF probes strictly widen the candidate set (monotone recall),
    and the high-end settings reach strong recall on sf0.001."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id % 25 = 0")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }

    def srp_recall(n_tables):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.srp_bucketed_topk(
                q, e, "vec_id", "embedding", k=5, n_planes=3, n_tables=n_tables
            ).collect()
        }
        return len(got & exact) / len(exact)

    r2, r8 = srp_recall(2), srp_recall(8)
    assert r8 >= r2, (r2, r8)  # more tables never hurt
    assert r8 >= 0.6, r8

    def ivf_recall(n_probe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_topk(
                q, e, "vec_id", "embedding", k=5,
                n_clusters=8, n_probe=n_probe, n_iters=2,
            ).collect()
        }
        return len(got & exact) / len(exact)

    i1, i4 = ivf_recall(1), ivf_recall(4)
    assert i4 >= i1, (i1, i4)  # more probes never hurt
    assert i4 >= 0.6, i4


def test_kmv_sketch_accuracy_and_exact_regime(spark):
    from data_integration_project_spark.operators.sketch import kmv_distinct_estimate

    # below k: the sketch IS the exact distinct count
    small = spark.range(100).select((F.col("id") % 37).alias("v"))
    r = kmv_distinct_estimate(small, "v", k=256).collect()[0]
    assert (r["n_seen"], r["n_estimate"]) == (37, 37)

    # well above k: estimate within 10% of truth
    big = spark.range(50000).select((F.col("id") * 7919 % 49999).alias("v"))
    true_n = big.distinct().count()
    r2 = kmv_distinct_estimate(big, "v", k=256).collect()[0]
    assert r2["n_seen"] == 256
    assert abs(r2["n_estimate"] - true_n) / true_n < 0.10, (r2["n_estimate"], true_n)


def test_hash_sample_stable_under_repartitioning(spark):
    from data_integration_project_spark.operators.sampling import sample_bucket

    df = spark.range(10000).select(F.col("id").alias("k"))

    def sample(d, rate_permille):
        return {r["k"] for r in d.filter(sample_bucket(F.col("k")) < rate_permille).collect()}

    s1 = sample(df, 100)
    s2 = sample(df.repartition(17), 100)
    assert s1 == s2  # membership is a pure function of the key
    assert 0.07 < len(s1) / 10000 < 0.13  # ~10% rate
    # nested rates: a 5% sample is a subset of the 10% sample
    assert sample(df, 50) <= s1


def test_connected_components_transitive_chain(spark):
    from data_integration_project_spark.operators.dedup import connected_components

    # chain 1-2-3 plus island 10-11: labels must collapse transitively
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["_id_a", "_id_b"]
    )
    got = {
        (r["node"], r["comp"]) for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_hll_estimate_tracks_cardinality(spark):
    from pyspark.sql import functions as F

    from data_integration_project_spark.operators.sketch import hll_distinct_estimate

    df = spark.range(0, 20000).select(F.col("id").alias("v"))
    row = hll_distinct_estimate(df, "v", m=64).collect()[0]
    assert row["m"] == 64 and row["n_empty"] == 0
    # raw HLL with m=64 has ~13% relative error; allow 3 sigma
    assert 0.6 * 20000 < row["n_estimate"] < 1.4 * 20000
    # duplicates must not change the sketch (register max is idempotent)
    dup = df.union(df)
    row2 = hll_distinct_estimate(dup, "v", m=64).collect()[0]
    assert row2["n_estimate"] == row["n_estimate"]


def test_decode_aiff_roundtrip_and_dispatch():
    import struct

    from data_integration_project_spark.operators.multimodal import (
        _extended80_pack,
        _extended80_unpack,
        decode_audio,
        encode_aiff,
        encode_wav,
    )

    for rate in (8000, 22050, 44100, 48000):
        assert _extended80_unpack(_extended80_pack(rate)) == rate
    raw = bytes(range(256)) * 3
    a = decode_audio(encode_aiff(raw))
    w = decode_audio(encode_wav(raw))
    assert a["format"] == "aiff" and w["format"] == "wav"
    assert a["n_frames"] == w["n_frames"] == 384
    vals = struct.unpack(">384h", raw[:768])
    assert a["sum_abs"] == sum(abs(v) for v in vals)
    # same bytes, opposite endianness: the two decoders must disagree
    assert a["peak_abs"] != w["peak_abs"]


def test_decode_tga_bgr_and_bottom_up():
    from data_integration_project_spark.operators.multimodal import (
        decode_image,
        encode_tga,
    )

    # one pixel per channel: (B=10,G=20,R=30) then (B=40,G=50,R=60)
    raw = bytes([10, 20, 30, 40, 50, 60])
    d = decode_image(encode_tga(raw, width=2, max_height=1))
    assert d["format"] == "tga" and (d["width"], d["height"]) == (2, 1)
    assert d["mean_b"] == (10 + 40) / 2
    assert d["mean_g"] == (20 + 50) / 2
    assert d["mean_r"] == (30 + 60) / 2


def test_decode_png_roundtrip_all_filters():
    from data_integration_project_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    # >=5 rows so every filter type (None/Sub/Up/Average/Paeth) is hit;
    # non-trivial byte pattern so each filter's delta math matters
    raw = bytes((i * 37 + 11) % 256 for i in range(3 * 16 * 7 - 5))
    png = encode_png(raw)
    d = decode_image(png)  # dispatch must route on the PNG signature
    assert d["format"] == "png" and d["width"] == 16 and d["height"] == 7
    raster = raw + b"\x00" * (3 * 16 * 7 - len(raw))
    assert d["mean_r"] == sum(raster[0::3]) / d["n_pixels"]
    assert d["mean_g"] == sum(raster[1::3]) / d["n_pixels"]
    assert d["mean_b"] == sum(raster[2::3]) / d["n_pixels"]

    # corrupting one IDAT byte must fail the CRC check, not mis-decode
    idat_at = png.index(b"IDAT") + 6
    bad = png[:idat_at] + bytes([png[idat_at] ^ 0xFF]) + png[idat_at + 1 :]
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bad)


def test_gif_lzw_roundtrip_and_decode():
    from data_integration_project_spark.operators.multimodal import (
        _gif_lzw_compress,
        _gif_lzw_decompress,
        decode_image,
        encode_gif,
    )

    # large pseudo-random stream: forces code-width growth through 12
    # bits and at least one CLEAR + dictionary reset
    big = bytes((i * 131 + 17) % 256 for i in range(20000))
    assert _gif_lzw_decompress(_gif_lzw_compress(big)) == big
    # highly repetitive stream: exercises the KwKwK special case
    rep = b"ababababab" * 500
    assert _gif_lzw_decompress(_gif_lzw_compress(rep)) == rep

    raw = bytes((i * 37 + 11) % 256 for i in range(16 * 5 - 3))
    d = decode_image(encode_gif(raw))  # dispatch must route on GIF magic
    assert d["format"] == "gif" and d["width"] == 16 and d["height"] == 5
    padded = raw + b"\x00" * 3
    mean = sum(padded) / len(padded)
    # grayscale palette: all three channel means equal the byte mean
    assert d["mean_r"] == d["mean_g"] == d["mean_b"] == mean


def test_star_cc_matches_direct_cc(spark):
    """large-star/small-star must produce identical labels to direct
    min-label propagation on an irregular graph (two components, one
    with a branch), and on a path long enough that direct propagation
    needs many rounds."""
    from data_integration_project_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 9), (3, 7), (20, 21), (21, 22)]
    pairs = spark.createDataFrame(edges, ["_id_a", "_id_b"])
    direct = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    star = {r["node"]: r["comp"] for r in connected_components_star(pairs).collect()}
    assert direct == star
    assert set(star.values()) == {1, 20}

    # 64-node path: direct needs ~63 rounds, star must finish inside 10
    path = spark.createDataFrame([(i, i + 1) for i in range(63)], ["_id_a", "_id_b"])
    labels = connected_components_star(path, max_iter=10).collect()
    assert len(labels) == 64
    assert all(r["comp"] == 0 for r in labels)


def test_star_cc_contraction_across_partitions(spark, monkeypatch):
    """The round-9 partition-local contraction pre-pass must stitch
    components whose edges are scattered across many partitions: shrink
    the loop's rows-per-partition target so the contraction genuinely
    runs on several range partitions, on an interleaved two-component
    graph whose chains all cross partition boundaries."""
    from data_integration_project_spark import session as S
    from data_integration_project_spark.operators.dedup import (
        connected_components_star,
    )

    # 40 edges / 8 per partition -> 5 range partitions; each holds a
    # slice of BOTH chains, and every slice must be stitched to its
    # neighbors through shared boundary nodes.
    monkeypatch.setattr(S, "LOOP_ROWS_PER_PARTITION", 8)
    # component A: even chain 0-2-4-...-40; component B: odd chain
    # 1-3-...-41.
    edges = [(i, i + 2) for i in range(0, 40)]
    pairs = spark.createDataFrame(edges, ["_id_a", "_id_b"])
    labels = {r["node"]: r["comp"] for r in connected_components_star(pairs).collect()}
    assert len(labels) == 42
    assert all(c == (n % 2) for n, c in labels.items())


def _min_id_components(edges):
    """Plain-dict union-find: node -> minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _random_edges():
    import random

    rng = random.Random(20240611)
    return [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]


@pytest.mark.parametrize(
    "edges",
    [
        [(i + 1, i) for i in range(30)],  # chain, edges point downward
        [(0, i) for i in range(1, 25)] + [(i, 100) for i in range(50, 60)],
        _random_edges(),
        [(-5, 3), (3, -12), (-12, 7), (40, -1), (-1, -2), (8, 9)],
    ],
    ids=["chain", "star", "random", "negative-ids"],
)
def test_contract_partitions_matches_union_find(spark, edges):
    """With one partition the local contraction sees every edge, so each
    node's rep must be the minimum id of its whole component."""
    from data_integration_project_spark.operators.dedup import _contract_partitions

    e = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["rep"] for r in _contract_partitions(e, parts=1).collect()}
    assert got == _min_id_components(edges)


def test_heavy_hitters_guarantee(spark):
    """Output equals the exact HAVING count*(cap+1) > N set even under
    adversarial partitioning."""
    import pyspark.sql.functions as F

    from data_integration_project_spark.operators.sketch import heavy_hitters

    rows = (["hot"] * 500) + (["warm"] * 120) + [f"cold{i}" for i in range(400)]
    df = spark.createDataFrame([(v,) for v in rows], ["tok"]).repartition(7)
    out = {
        r["tok"]: r["n_occurrences"]
        for r in heavy_hitters(df, "tok", capacity=7).collect()
    }
    n = len(rows)  # 1020; threshold: count*8 > 1020 → count > 127.5
    assert out == {"hot": 500}
    out2 = {
        r["tok"]: r["n_occurrences"]
        for r in heavy_hitters(df, "tok", capacity=15).collect()
    }
    # capacity 15 → threshold count > 1020/16 = 63.75
    assert out2 == {"hot": 500, "warm": 120}


def test_intra_doc_dedup_order_preserved(spark):
    from data_integration_project_spark.operators.dedup import intra_doc_dedup

    df = spark.createDataFrame(
        [(1, "b\na\nb\nc\na"), (2, "x")], ["id", "text"]
    )
    out = {r["id"]: r for r in intra_doc_dedup(df, "id", "text").collect()}
    assert out[1]["clean_text"] == "b\na\nc"
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (5, 3)
    assert out[2]["clean_text"] == "x"


def test_bloom_filter_no_false_negatives(spark):
    import pyspark.sql.functions as F

    from data_integration_project_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    build = spark.createDataFrame([(i,) for i in range(0, 100, 2)], ["k"])
    probe = spark.createDataFrame([(i, f"r{i}") for i in range(100)], ["k", "v"])
    pos = bloom_build(build, "k", m=512, k=3)
    cand = bloom_probe(probe, "k", pos, m=512, k=3)
    kept = {r["k"] for r in cand.collect()}
    # every true member must survive (no false negatives)
    assert set(range(0, 100, 2)) <= kept


def test_ivf_pq_adc_recall_and_planted_duplicates(spark):
    """ADC quantizes SQUARED L2 distance, so the ground truth is the
    exact L2 top-k (a cosine baseline is the wrong metric unless
    vectors are unit-norm). Distances are quantized, so exact rank
    agreement is not expected — but recall against exact-L2 must be
    solid, and a planted identical twin (same coarse cell, same PQ
    codes) must always come back at rank 1."""
    import numpy as np

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id % 50 = 0")
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    es = set()
    for qi in ids[ids % 50 == 0]:
        qv = mat[ids == qi][0]
        d2 = ((mat - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        nb = [int(ids[j]) for j in order if ids[j] != qi][:5]
        es |= {(int(qi), n) for n in nb}
    adc = S.ivf_pq_topk(
        q, e, "vec_id", "embedding", k=5,
        n_clusters=8, n_probe=4, n_iters=2, m=4, n_codes=16, pq_iters=2,
    ).collect()
    av = {(r["query_id"], r["neighbor_id"]) for r in adc}
    # Regime note: these embeddings are near-uniform random, so true
    # neighbors are barely closer than the bulk and a 4x16 quantizer
    # cannot order them — ADC recall is structurally modest here
    # (unlike IVF, which scores candidates with EXACT distances).
    # Random top-5-of-500 recall would be ~1%; require >= 8% to prove
    # the codes carry real signal, and rely on the planted-twin check
    # below for the exactness-at-zero-distance guarantee.
    assert len(av & es) / len(es) >= 0.08, f"ADC recall at random level: {len(av & es) / len(es)}"
    # planted twin: same vector → same coarse cell and same PQ codes →
    # its ADC distance equals the query's own quantization distance,
    # which no other candidate can beat by construction
    copies = q.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    with_copies = e.select("vec_id", "embedding").unionByName(copies)
    adc2 = S.ivf_pq_topk(
        q, with_copies, "vec_id", "embedding", k=5,
        n_clusters=8, n_probe=4, n_iters=2, m=4, n_codes=16, pq_iters=2,
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in adc2 if r["rank"] == 1}
    assert all(top1[qid] == qid + 1000000 for qid in top1), "twin not at rank 1"


def test_kmv_set_algebra_accuracy(spark):
    """Sketch estimates of |A∩B| and |A∪B| must land within ~3/sqrt(k)
    relative error of the exact values on overlapping integer sets."""
    from data_integration_project_spark.operators.sketch import kmv_set_algebra

    a = spark.range(0, 6000).withColumnRenamed("id", "v")
    b = spark.range(4000, 12000).withColumnRenamed("id", "v")
    row = kmv_set_algebra(a, F.col("v"), b, F.col("v"), k=256).collect()[0]
    exact_i, exact_u = 2000, 12000
    assert abs(row["est_intersection"] - exact_i) / exact_i < 0.35
    assert abs(row["est_union"] - exact_u) / exact_u < 0.2


def test_cdc_prefix_shift_preserves_chunks(spark, sf_small):
    """CDC's point: a prefix insertion re-aligns within one window, so
    the shifted copy shares the vast majority of chunk fingerprints
    with its original (fixed-offset chunking would share ~none)."""
    from pyspark.sql import functions as F

    from data_integration_project_spark.operators.dedup import cdc_chunk_rows
    from data_integration_project_spark.plans.catalog import t

    d = t(spark, sf_small, "documents").select("doc_id", "text").limit(50)
    shifted = d.select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("XYZ prefix shim "), F.col("text")).alias("text"),
    )
    chunks = cdc_chunk_rows(d.unionByName(shifted), "doc_id", "text")
    orig = chunks.filter(F.col("doc_id") < 500000).select("_chunk_fp").distinct()
    shif = chunks.filter(F.col("doc_id") >= 500000).select("_chunk_fp").distinct()
    n_shif = shif.count()
    n_shared = shif.join(orig, "_chunk_fp", "left_semi").count()
    assert n_shared / n_shif > 0.7, (n_shared, n_shif)


def test_semdedup_drops_every_injected_copy(spark, sf_small):
    """Identical vectors share rounded distances and therefore the
    cluster; each injected copy must be flagged dropped."""
    from pyspark.sql import functions as F

    from data_integration_project_spark.operators.similarity import semdedup_flags
    from data_integration_project_spark.plans.catalog import t

    e = t(spark, sf_small, "embeddings")
    copies = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = e.select("vec_id", "embedding").unionByName(copies)
    flags = semdedup_flags(corpus, "vec_id", "embedding", 0.99)
    n_copies = copies.count()
    n_copy_dropped = flags.filter(
        (F.col("vec_id") >= 1000000) & (F.col("_dropped") == 1)
    ).count()
    assert n_copy_dropped == n_copies


def test_srp_wide_vectors_not_truncated(spark):
    """A 128-dim embedding column must get 128-component planes —
    the fixture-sized 64-dim default would zip_with-pad with NULLs and
    NULL out every dot product (VERDICT r2 task 9). Recall contract:
    planted exact duplicates collide in every table and come back as
    the top-1 neighbor, and bucket bits actually vary (no silent
    all-zero-bucket degeneration)."""
    import math

    dim = 128
    rows = []
    for i in range(40):
        # deterministic unit-ish vectors spread over the sphere
        vec = [math.sin(0.7 * i + 0.13 * d) for d in range(dim)]
        rows.append((i, vec))
    base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert S.observed_dim(base, "embedding") == dim
    copies = base.filter("vec_id % 4 = 0").select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(copies)
    q = base.filter("vec_id % 4 = 0")
    out = S.srp_bucketed_topk(q, corpus, "vec_id", "embedding", k=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert top1 and all(top1[qid] == qid + 1000 for qid in top1)
    # the 64-dim tail contributes: buckets computed on the full width
    buckets = corpus.select(
        S.srp_bucket(F.col("embedding"), 3, 0, dim).alias("b")
    ).distinct().count()
    assert buckets > 1


def test_dhash_chunks_properties():
    """dHash edge cases: constant raster → all-zero hash; a single
    bright column flips exactly the bits whose left cell beats its
    right neighbor; tiny rasters (rows < 8) hash without error and
    identically to their padded twin's occupied cells."""
    from data_integration_project_spark.operators.multimodal import (
        dhash_chunks,
    )

    # constant image: no cell beats its neighbor → all four chunks 0
    flat = bytes([100]) * (16 * 4 * 3)
    assert dhash_chunks(16, 4, flat) == (0, 0, 0, 0)

    # identical rasters → identical hash; one changed pixel → small
    # Hamming distance (locality — the property exact hashing lacks)
    import random

    rng = random.Random(7)
    base = bytes(rng.randrange(256) for _ in range(16 * 16 * 3))
    h1 = dhash_chunks(16, 16, base)
    assert dhash_chunks(16, 16, base) == h1
    edited = bytearray(base)
    edited[100] = (edited[100] + 120) % 256
    h2 = dhash_chunks(16, 16, bytes(edited))
    ham = sum(bin(a ^ b).count("1") for a, b in zip(h1, h2))
    assert ham <= 6  # one pixel touches at most a couple of cells

    # 1-row raster: gy all 0, rows 1..7 of the grid empty → no error,
    # and chunks stay within 16 bits
    one = bytes(rng.randrange(256) for _ in range(16 * 1 * 3))
    ch = dhash_chunks(16, 1, one)
    assert all(0 <= c <= 0xFFFF for c in ch)


def test_avi_signature_chunks_properties():
    """Video signature edge cases: the minimum-duration gate (< 4
    frames → None), exact row-gradient bits against a hand computation,
    and locality (editing one frame byte changes at most one chunk)."""
    from data_integration_project_spark.operators.multimodal import (
        avi_signature_chunks,
        encode_avi,
    )

    # 3 frames (24 bytes → ceil(24/8)=3) → gated out
    assert avi_signature_chunks(encode_avi(bytes(range(24)))) is None

    # 4 frames of strictly increasing bytes: every image row r is
    # DARKER than row r+1 → no gradient bit set in any frame
    up = bytes(range(32))
    assert avi_signature_chunks(encode_avi(up)) == (0, 0, 0, 0)

    # strictly decreasing: every row beats its successor → all 7 bits
    down = bytes(reversed(range(32)))
    assert avi_signature_chunks(encode_avi(down)) == (127, 127, 127, 127)

    # determinism + locality: a single byte edit inside frame 2 leaves
    # the other three slots' chunks unchanged
    import random

    rng = random.Random(11)
    raw = bytes(rng.randrange(256) for _ in range(64))  # 8 frames
    h1 = avi_signature_chunks(encode_avi(raw))
    assert h1 == avi_signature_chunks(encode_avi(raw))
    edited = bytearray(raw)
    # slots sample fidx = s*8//4 = 0,2,4,6; edit a row of frame 4
    edited[33] = (edited[33] + 97) % 256
    h2 = avi_signature_chunks(encode_avi(bytes(edited)))
    assert sum(a != b for a, b in zip(h1, h2)) <= 1
    assert h1[0] == h2[0] and h1[1] == h2[1] and h1[3] == h2[3]


def test_hamming_band_pairs_recall_matches_brute_force(spark):
    """Pigeonhole recall proof, executed: for every pair within the
    Hamming threshold, at least one of the four chunks must match, so
    the banded equi-join's output must equal the brute-force all-pairs
    answer exactly — on a corpus engineered to stress it (clustered
    chunks with planted 1-3-bit edits plus random noise rows)."""
    import itertools
    import random

    from data_integration_project_spark.operators.dedup import (
        hamming_band_pairs,
    )

    rng = random.Random(5)
    rows = []
    mid = 0
    for _ in range(25):
        base = [rng.randrange(1 << 16) for _ in range(4)]
        rows.append((mid, *base)); mid += 1
        for _ in range(2):  # planted near-dups: flip 1-3 bits
            edited = list(base)
            for _ in range(rng.randrange(1, 4)):
                j = rng.randrange(4)
                edited[j] ^= 1 << rng.randrange(16)
            rows.append((mid, *edited)); mid += 1
    for _ in range(50):  # noise
        rows.append((mid, *[rng.randrange(1 << 16) for _ in range(4)]))
        mid += 1
    df = spark.createDataFrame(
        rows, "media_id long, c0 int, c1 int, c2 int, c3 int"
    )
    got = {
        (r.media_id_a, r.media_id_b, r.hamming)
        for r in hamming_band_pairs(df, max_hamming=3).collect()
    }
    want = set()
    for a, b in itertools.combinations(rows, 2):
        ham = sum(bin(x ^ y).count("1") for x, y in zip(a[1:], b[1:]))
        if ham <= 3:
            lo, hi = min(a[0], b[0]), max(a[0], b[0])
            want.add((lo, hi, ham))
    assert got == want and len(want) >= 25


def test_topk_pandas_zero_norm_batch_is_empty_not_crash(spark):
    """A batch whose scores are all NaN (zero-norm query vectors) must
    yield nothing, not raise — the empty-candidate branch of the
    vectorized top-k (np.repeat broadcast failure, review finding)."""
    from data_integration_project_spark.operators.similarity import (
        brute_force_topk_pandas,
    )

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, emb array<float>"
    )
    out = brute_force_topk_pandas(corpus, corpus, "vec_id", "emb", k=2)
    assert out.count() == 0


def test_topk_pandas_matches_fold_path_with_ties(spark):
    """The vectorized partition+grouped-lexsort top-k (the bitext-soak
    rewrite) must select exactly what the fold-based window plan
    selects, including on an adversarial corpus: planted DUPLICATE
    vectors force score ties at the k-th boundary (tie-break is by
    ascending id), and query ids present in the corpus force the
    self-match exclusion. Identical vectors give bit-identical cosines
    on both paths, so (query_id, neighbor_id, rank) must agree row for
    row."""
    import random

    from data_integration_project_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_pandas,
    )

    rng = random.Random(23)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    rows = []
    vid = 0
    for v in base:
        # three exact copies of every base vector → guaranteed ties
        for _ in range(3):
            rows.append((vid, v))
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<float>")
    queries = corpus.filter("vec_id % 7 = 0")  # query ids ∈ corpus
    a = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(
            queries, corpus, "vec_id", "emb", k=5
        ).collect()
    }
    b = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk_pandas(
            queries, corpus, "vec_id", "emb", k=5
        ).collect()
    }
    assert a == b and len(a) == queries.count() * 5
    # every query's top picks must be its own copies (cos exactly 1),
    # lowest ids first — pins both tie-break and self-exclusion
    by_q: dict = {}
    for qid, nid, rank in sorted(a):
        by_q.setdefault(qid, []).append((rank, nid))
    for qid, picks in by_q.items():
        copies = sorted(
            i for i in range(qid - qid % 3, qid - qid % 3 + 3) if i != qid
        )
        got_first_two = [n for _, n in sorted(picks)[:2]]
        assert got_first_two == copies, (qid, picks)


def test_bpe_encode_words_with_merges():
    """Replayed merges must reproduce the trainer's greedy
    left-to-right non-overlap semantics: 'aaaa' under ('a','a') becomes
    ['aa','aa'], and merge ORDER matters ('ab' then 'abc')."""
    from pyspark.sql import SparkSession

    from data_integration_project_spark.operators.bpe import (
        encode_words_with_merges,
    )

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()
    words = spark.createDataFrame(
        [("aaaa",), ("aaa",), ("abcab",)], "word string"
    )
    out = {
        r["word"]: r["syms"]
        for r in encode_words_with_merges(
            words, [("a", "a"), ("a", "b"), ("ab", "c")]
        ).collect()
    }
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]  # greedy non-overlap, leftover 'a'
    # 'abcab': ('a','b')→['ab','c','ab'], then ('ab','c')→['abc','ab']
    assert out["abcab"] == ["abc", "ab"]

    # empty merge list = plain character split
    plain = {
        r["word"]: r["syms"]
        for r in encode_words_with_merges(words, []).collect()
    }
    assert plain["aaa"] == ["a", "a", "a"]
