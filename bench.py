"""Benchmark harness: runs the headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed to completion with a count() action (results stay
distributed; nothing is collected). Timing excludes session startup but
includes full plan execution. Per-query time is the BEST of
$SPARK_GRAFT_BENCH_REPS runs (default 3): the host VM's cores are bursty
(measured up to ~5× run-to-run on identical plans), and best-of-N
recovers the plan's actual cost from the noise floor; rep 1 additionally
pays one-time plan compilation. "value" is the sum of the per-query
bests.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: updated as operator coverage grows. Keep this to the
# queries that exercise distinct physical shapes (scan+agg, star join,
# window/dedup, text ops) rather than every catalog entry.
HEADLINE = [
    "q1_pricing_summary",
    "orders_status_report",
    "top10_orders",
    "star_revenue_by_region",
    "order_line_value",
    "customer_quality_report",
    "orders_first_wins_dedup",
    "dim_customer_scd2",
    "fact_sales_by_brand_year",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_topk_pandas",
    "doc_quality_scores",
    "multimodal_features",
    "events_hourly_by_type",
    "events_sessionization",
    "streaming_inbox_pipeline",
    # round 2: new physical shapes — grouping-set expand, real
    # mapInPandas byte decode, partition-pruned parquet MERGE
    "orders_grouping_sets",
    "multimodal_ppm_decode",
    "dim_customer_scd2_incremental",
    # round 2 (cont.): explode-heavy vocabulary profile and an
    # event-time RANGE-frame window
    "doc_top_tokens",
    "events_trailing_hour_window",
    # round 2 (cont.): bounded-state heavy hitters (mapInPandas MG pass
    # + broadcast verify), Bloom runtime-filter semi-join, log-diameter
    # connected components on a long-path graph
    "doc_heavy_hitters_mg",
    "orders_bloom_semi_join",
    "dedup_clusters_largestar",
    # round 2 (cont.): classic TPC-H multi-join shape and the Morton
    # interleave projection
    "q3_shipping_priority",
    "orders_zorder_layout",
    # round 2 (cont.): iterative fixed-point graph rounds and
    # python-stateful streaming
    "nations_trade_pagerank",
    "events_stateful_user_totals",
    # round 2 (cont. 3): compressed-codec decode (DEFLATE/LZW inside
    # mapInPandas), gram-explode quality gate, double-quantizer ANN,
    # prefix-filter join, char-gram island merge
    "multimodal_png_decode",
    "doc_gopher_quality",
    "ann_ivf_pq_adc",
    "dedup_prefix_filter_join",
    "doc_dup_substring_coverage",
    # round 2 (cont. 4): disjunctive-nation star join (Q8), double
    # EXISTS/NOT-EXISTS correlation (Q21), mergeable quantile sketch,
    # vocab-free feature hashing, top-N-over-join (Q10), weighted
    # priority sampling. (embeddings_dbscan is correctness-gated but
    # not benched: its cost is ~15 tiny fixed-overhead stages on a
    # 400-row planted corpus — pure constant cost, no data signal.)
    "q8_market_share",
    "q21_waiting_suppliers",
    "orders_quantile_sketch",
    "doc_hashed_features",
    "q10_returned_items",
    "orders_priority_sample",
    "q2_min_cost_supplier",
    "doc_winnowing_fingerprints",
    "lineitem_zonemap_pruning",
    "doc_cdc_chunk_dedup",
    "corpus_semdedup",
    "corpus_dsir_weights",
    # round 2 (final stretch): entropy-coded codec decode (Huffman/Rice
    # bit walks in mapInPandas), custom-DataSource Avro round trip with
    # byte-range splits, iterative driver-metadata trainers (BPE merge
    # rounds, fixed-point GD), and a 3-round graph propagation
    "multimodal_jpeg_decode",
    "orders_avro_roundtrip",
    "doc_bpe_train",
    "customers_logreg_gd",
    "doc_label_propagation",
    # round 3: full 106-rule validator over the dirty CSV pipeline,
    # the per-source raw-layout variant, survivorship over the shared
    # canonical dim, the prefix-filtered exact-Jaccard form, and the
    # executed batch rollback-and-continue RDBMS load
    "khachhang_csv_pipeline",
    "mon_csv_quality",
    "khachhang_golden_records",
    "dedup_ngram_jaccard",
    "orders_sqlite_partial_load",
    # round 3 (cont.): grid-bucketed spatial equi-join
    "suppliers_geo_radius_join",
    # round 4: the remaining real decoders join the regression set
    # (Rice/CRC numpy decode, big-endian AIFF, bottom-up TGA, LZW GIF)
    # so codec-layer wins/regressions are visible per round
    "multimodal_flac_decode",
    "multimodal_aiff_decode",
    "multimodal_tga_decode",
    "multimodal_gif_decode",
    # round 4 (cont.): perceptual-hash image near-dup (dHash +
    # Hamming-band LSH), BPE apply over the distinct-word dim, and the
    # two remaining end-to-end entity CSV pipelines
    "multimodal_image_near_dup",
    "doc_bpe_encode",
    "nguyenlieu_csv_quality",
    "dathang_csv_quality",
    # round 4 (cont.): audio fingerprint near-dup (WAV decode +
    # Hamming-band LSH)
    "multimodal_audio_near_dup",
    # round 4 (cont. 2): per-keyframe video near-dup (idx1-seek AVI
    # decode + slot-banded LSH) and the bounded-panel MM trainer
    "multimodal_video_near_dup",
    "lineitem_bradley_terry",
    # round 4 (cont. 3): retrieval compositions — mutual-NN ratio-margin
    # mining (two k=4 exact passes) and budgeted context packing
    "embeddings_bitext_mining",
    "ann_context_packing",
    # round 4 (cont. 4): the two-stage dedup funnel as one plan, and
    # per-pair LCS DP inside mapInPandas
    "corpus_dedup_cascade",
    "doc_rougel_pairs",
    # round 4 (cont. 5): integer-outer-product covariance + driver
    # power iteration, global-sort locality pairing, WARC framing walk
    "embeddings_pca_power_iteration",
    "doc_simhash_sort_locality",
    "doc_warc_roundtrip",
    # round 5: the mergeable level-sampling quantile sketch (map-side
    # level counts + bounded rank panels), streaming banded near-dup
    # ingest (foreachBatch + store probe), and integer-deflation PCA.
    # (embeddings_bitext_mining_srp is correctness-gated and soaked in
    # SCALE.md but not benched: it deliberately runs BOTH miners —
    # exact + SRP — to report recall, so its wall measures the
    # evaluation harness, not a production plan.)
    "orders_kll_quantiles",
    "streaming_neardup_ingest",
    "embeddings_pca_two_components",
    # round 6: the single-partition closure-state replay (linear
    # discrete-event sim — the shape that replaced the O(n²) Catalyst
    # fold), hashed-shingle containment verify (in-row long-array
    # intersect over an anti-skewed postings probe), and HLL set
    # algebra (register max-merge + inclusion-exclusion)
    "orders_queue_simulation",
    "doc_containment_pairs",
    "events_hll_set_operations",
    # round 9: the three late scale fixes join the regression set so
    # their shapes stay visible per round — band-local broadcast
    # anti-join negative sampling (wide under AQE), per-key cogrouped
    # applyInPandas reconciliation (explicit co-partition width), and
    # deletion-1-neighborhood blocked levenshtein
    "orders_negative_sampling",
    "customers_cogroup_recon",
    "customer_fuzzy_match",
]


def main() -> None:
    from data_integration_project_spark import plans
    from data_integration_project_spark.session import get_spark

    spark = get_spark("bench")
    # warm the JVM + file listing once so per-query numbers measure the
    # query, not first-touch costs
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    names = [n for n in HEADLINE if n in plans.REGISTRY]
    timings: dict[str, float] = {}

    for name in names:
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            df = plans.REGISTRY[name].fn(spark, SF_DIR)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            spark.catalog.clearCache()  # operator-internal persists must not leak
        print(f"# {name}: {n} rows, best of {reps}: {round(best, 4)}s", file=sys.stderr)
        timings[name] = round(best, 4)
    total = round(sum(timings.values()), 4)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
            }
        ),
        flush=True,
    )
    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 — the JSON line is already out
        print(f"# spark.stop() failed: {type(exc).__name__}: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
