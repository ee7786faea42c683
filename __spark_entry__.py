"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship OCR-span extraction at sf0.001 — derives the
  interleaved text+media corpus deterministically from the driver's
  documents table ids, renders pages distributed, runs the 3-stage
  extraction pipeline, returns the ordered span table.
- ``queries()`` / ``oracle_sql()``: operator registry with DuckDB parity
  oracles (org_dharts_dia_tesseract_spark.queries) plus rows-only entries
  for the non-SQL-expressible raster pipeline operators.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SMOKE_SF_DIR = "/root/testdata/sf0.001"
# doc budgets of the raster gates (scripts/gen_expected.py reads these)
_PIPELINE_DOC_CAP = 400   # full-pipeline gates
_MEDIA_DOC_CAP = 200      # re-encoded media, page-level sinks, audio/video
_ANNOTATED_DOC_CAP = 100  # annotated-raster sink


def _interleaved_corpus(spark: SparkSession, sf_dir: str, cap: int):
    """Derive the interleaved documents+media tables from the driver's
    flat documents table (doc ids only; content is a pure function of id)."""
    from org_dharts_dia_tesseract_spark.sources import corpus_tables
    from org_dharts_dia_tesseract_spark.sources.tables import load_table
    n = load_table(spark, sf_dir, "documents").count()
    return corpus_tables(spark, min(n, cap))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    docs, media = _interleaved_corpus(spark, _SMOKE_SF_DIR, 10_000)
    return extract_spans(docs, media)


def _ocr_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship gate. page_timeout_ms=60s arms the per-page soft
    deadline (TessAPI.java:464-481 timeout_millisec analog) on every
    page without ever firing at gate scale (pages cost ~1 ms), so the
    driver exercises the arm/disarm/restore path too — output is
    identical to the unbudgeted run."""
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    docs, media = _interleaved_corpus(spark, sf_dir, _PIPELINE_DOC_CAP)
    return extract_spans(docs, media, page_timeout_ms=60_000)


def _ocr_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from org_dharts_dia_tesseract_spark.operators import analyze_documents
    docs, media = _interleaved_corpus(spark, sf_dir, _PIPELINE_DOC_CAP)
    return analyze_documents(docs, media)


def _ocr_layout_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analyzeLayout mode: no classification (level counts per page)."""
    from org_dharts_dia_tesseract_spark.operators import analyze_documents
    docs, media = _interleaved_corpus(spark, sf_dir, _PIPELINE_DOC_CAP)
    h = analyze_documents(docs, media, recognize=False)
    return (h.groupBy("media_ref", "level")
            .count().withColumnRenamed("count", "n_nodes"))


def _ocr_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pipeline: extract -> quality -> dedup -> keep decision."""
    from org_dharts_dia_tesseract_spark.operators.pipeline import \
        training_corpus
    docs, media = _interleaved_corpus(spark, sf_dir, _PIPELINE_DOC_CAP)
    return training_corpus(docs, media).drop("text")


def _ocr_annotated_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotated-raster sink (examples/BlockAnalysis.java:99 analog)."""
    from org_dharts_dia_tesseract_spark.operators import analyze_documents
    from org_dharts_dia_tesseract_spark.operators.annotate import \
        annotate_pages
    docs, media = _interleaved_corpus(spark, sf_dir, _ANNOTATED_DOC_CAP)
    h = analyze_documents(docs, media)
    return annotate_pages(h, media).select("media_ref", "width", "height",
                                           "n_boxes")


def _ocr_word_font_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 9 FontAttributes (FontAttributes.java:28-59) as WORD columns,
    plus the higher-level first-word rollup (R3)."""
    from org_dharts_dia_tesseract_spark.operators import analyze_documents
    from org_dharts_dia_tesseract_spark.operators.windows import \
        level_font_attributes
    docs, media = _interleaved_corpus(spark, sf_dir, _PIPELINE_DOC_CAP)
    h = analyze_documents(docs, media)
    return level_font_attributes(h, "TEXTLINE")


def _ocr_dpi_font_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-DPI read-back (S5, ImageIOHelper.readImageData:379-407):
    media re-encoded as TIFF with XResolution=192 embedded; the
    hierarchy's font_pointsize must follow the EMBEDDED resolution
    (points = px*72/192), overriding both the media-table dpi column
    (dropped by the re-encode) and the 96 screen default. The oracle
    parquet is computed single-process with ppi=192, so a decoder that
    ignores the metadata hash-mismatches."""
    from org_dharts_dia_tesseract_spark.operators import analyze_documents
    from org_dharts_dia_tesseract_spark.operators.multimodal import \
        reencode_media
    from org_dharts_dia_tesseract_spark.operators.windows import \
        level_font_attributes
    docs, media = _interleaved_corpus(spark, sf_dir, _MEDIA_DOC_CAP)
    h = analyze_documents(docs, reencode_media(media, "tiff", dpi=192))
    return level_font_attributes(h, "TEXTLINE")


def _ocr_unlv_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetUNLVText output sink (TessAPI.java:505-512): reject '~' /
    suspect '^' codes over the recognized hierarchy."""
    from org_dharts_dia_tesseract_spark.operators import analyze_documents
    from org_dharts_dia_tesseract_spark.operators.sinks import unlv_text
    docs, media = _interleaved_corpus(spark, sf_dir, _PIPELINE_DOC_CAP)
    return unlv_text(analyze_documents(docs, media))


def _ocr_page_osd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way page orientation & script detection (PSM OSD_ONLY/AUTO_OSD:
    rotation-confidence argmax, PublicTypes.java:66-71)."""
    from org_dharts_dia_tesseract_spark.operators import page_osd
    docs, media = _interleaved_corpus(spark, sf_dir, _MEDIA_DOC_CAP)
    return page_osd(docs, media)


def _ocr_tiff_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level multi-page TIFF merge sink (ImageIOHelper.mergeTiff:
    336-371): per-doc page count + encoded size (blob dropped for the
    row check)."""
    from org_dharts_dia_tesseract_spark.operators.sinks import merge_tiff
    docs, media = _interleaved_corpus(spark, sf_dir, _MEDIA_DOC_CAP)
    return (merge_tiff(docs, media)
            .select("doc_id", "n_pages",
                    F.length("tiff").alias("tiff_bytes")))


# Span-over-media gates: the 200-doc corpus re-encoded with each codec of
# ImageIOHelper.java:263-327 (plus PDF) runs through extract_spans; spans
# must equal the raw-payload run's, so every gate's expectation is the
# 200-doc slice of ocr_extract_spans'. name -> reencode_media kwargs;
# colorize=True colorizes the grey pages first (datagen.colorize_page).
_MEDIA_SPAN_GATES: dict[str, dict] = {
    # uncompressed BMP: the plain pure-numpy decode path
    "ocr_spans_bmp_media": {"codec": "bmp"},
    # Adobe DEFLATE (tag 8): the commonest scanned TIFF after none/PackBits
    "ocr_spans_deflate_media": {"codec": "tiff", "compression": "deflate"},
    # zlib IDAT + all five scanline filters
    "ocr_spans_png_media": {"codec": "png"},
    # real variable-width LZW
    "ocr_spans_gif_media": {"codec": "gif"},
    # lossy, but q90 error (<~25 levels) is far inside the >170-level
    # ink/background binarization margin
    "ocr_spans_jpeg_media": {"codec": "jpeg"},
    # MCU-interleaved YCbCr 4:2:0, luma-collapsed on decode (ImageIO's
    # color JPEG decode, ImageIOHelper.java:270-327)
    "ocr_spans_jpeg_color_media": {"codec": "jpeg", "colorize": True,
                                   "jpeg_subsampling": "420"},
    # progressive SOF2 (T.81 Annex G), the dominant web flavor, codes the
    # same quantized coefficients as baseline: pixel-identical decode
    "ocr_spans_jpeg_prog_media": {"codec": "jpeg", "colorize": True,
                                  "jpeg_subsampling": "420",
                                  "jpeg_progressive": True},
    # indexed color through PLTE + Adam7 de-interlace; lossless
    "ocr_spans_png_palette_media": {"codec": "png", "png_palette": True,
                                    "png_interlace": True},
    # 1-bit PackBits, the fax/scan staple: threshold-128 changes pixels,
    # not spans
    "ocr_spans_tiff_bilevel_media": {"codec": "tiff",
                                     "compression": "packbits",
                                     "tiff_bits": 1},
    # CCITT G4 (T.6 MMR), THE archival scanned-document encoding; lossless
    # over the thresholded image
    "ocr_spans_tiff_g4_media": {"codec": "tiff", "compression": "g4",
                                "tiff_bits": 1},
    # G4 over PDF (/CCITTFaxDecode K=-1): the archival form real scanned
    # PDFs use (~7x smaller than Flate on text pages)
    "ocr_spans_pdf_g4_media": {"codec": "pdf", "pdf_ccitt": True},
    # JPEG 2000 (MQ coder + EBCOT + reversible 5/3 wavelet): lossless
    "ocr_spans_jp2_media": {"codec": "jp2"},
    # Flate image XObject; the reference REJECTS pdf (ImageIOHelper.java:
    # 278-282) but the north rule names PDF parse, so here it decodes
    "ocr_spans_pdf_media": {"codec": "pdf"},
}


def _media_span_gate(codec: str, colorize: bool = False, **reencode_kw):
    def gate(spark: SparkSession, sf_dir: str) -> DataFrame:
        from org_dharts_dia_tesseract_spark.operators import extract_spans
        from org_dharts_dia_tesseract_spark.operators.multimodal import (
            colorize_media, reencode_media)
        docs, media = _interleaved_corpus(spark, sf_dir, _MEDIA_DOC_CAP)
        if colorize:
            media = colorize_media(media)
        return extract_spans(docs, reencode_media(media, codec,
                                                  **reencode_kw))
    return gate


def _query_vectors(emb: DataFrame) -> DataFrame:
    """The five ANN gate queries: vectors 0-4 as (q_id, q_emb)."""
    return emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))


def _index_path(prefix: str, sf_dir: str) -> str:
    """Per-sf persisted-index dir: data/gen/<prefix>_<sf label>."""
    label = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "gen", f"{prefix}_{label}")


def _with_corrupt(spark: SparkSession, clips: DataFrame, ref_col: str,
                  corrupt: dict[str, bytes]) -> DataFrame:
    """`clips` (ref, payload) plus injected undecodable payloads."""
    bad = spark.createDataFrame(
        [(ref, bytearray(b)) for ref, b in corrupt.items()],
        f"{ref_col} string, payload binary")
    return clips.select(ref_col, "payload").unionByName(bad)


def _pq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the IVF-PQ memory half): 64-dim
    float32 vectors become 8 uint8 codes (8 subspaces x 16 centroids),
    scored against queries via ADC inner-product lookup tables — the
    corpus never shuffles and never leaves code space; each Arrow batch
    emits only its local top-k (map-side combine). Training is a
    deterministic id-ordered sample, so the single-process twin
    (scripts/gen_expected.py) runs the SAME numpy kernels over the same
    parquet: ids and ranks match exactly, adc_ip to the 6 significant
    digits the gate compares (tests/parity.py:_canon_val)."""
    from org_dharts_dia_tesseract_spark.operators.similarity import \
        pq_topk_adc
    from org_dharts_dia_tesseract_spark.sources.tables import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk_adc(emb, _query_vectors(emb), k=5, m=8, ks=16)


def _ivfpq_topk_probe_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED faiss-style IVF-PQ read path: coarse k-means
    assignment + RESIDUAL-space PQ codes, scored as q.centroid +
    ADC(q, residual) in one mapInPandas stage with local top-k, one
    window exchange. nprobe == n_lists here so every vector is scored
    (the approximation under test is the quantization, not the
    pruning); the oracle parquet is the single-process twin over the
    same id-ordered training sample and kernels (adc_ip equal to 6
    significant digits). Pruned-probe recall is pytest-covered."""
    from org_dharts_dia_tesseract_spark.operators.similarity import \
        ivfpq_topk
    from org_dharts_dia_tesseract_spark.sources.tables import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, _query_vectors(emb), k=5, n_lists=8, nprobe=8,
                      m=8, ks=16)


def _ivfpq_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF-PQ read path (round-4 verdict item 3): write
    the index once — (vec_id, pq_code, list_id) partitionBy(list_id) +
    a JSON model sidecar — then answer queries by reading ONLY the
    probed list_id partitions (PartitionFilters at the parquet scan)
    and scoring the STORED codes; no re-encode anywhere in the read
    plan (pinned by tests/test_pq.py::test_indexed_plan_prunes_and_
    never_encodes). nprobe=2 of 8 lists, so the pruning itself is under
    test; the oracle parquet is the single-process numpy twin (same
    train/encode/probe/ADC kernels over the same vectors)."""
    from org_dharts_dia_tesseract_spark.operators.similarity import (
        ivfpq_topk_indexed, ivfpq_write_index)
    from org_dharts_dia_tesseract_spark.sources.tables import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    path = _index_path("ivfpq_index", sf_dir)
    ivfpq_write_index(emb, path, n_lists=8, m=8, ks=16)
    return ivfpq_topk_indexed(spark, path, _query_vectors(emb), k=5,
                              nprobe=2)


def _semdedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023): bounded-sample
    k-means clusters the embedding corpus, then each cluster is pruned
    locally — keep one representative (lowest id) per group of vectors
    with within-cluster cosine >= threshold. The gate threshold is 0.35
    because the synthetic corpus is near-random (max pairwise cosine
    ~0.51; a production 0.9 would prune nothing and verify nothing) —
    at 0.35 the prune drops ~15% of vectors, so clustering, greedy
    leader order, and the keep rule are all load-bearing. The oracle
    parquet is the single-process twin over the same vectors (shared
    _kmeans_np/_centroid_dists/_semdedup_prune_np kernels -> bit-exact);
    like the PQ gates it is per-sf (trained on the sf dir's vectors,
    valid while the corpus fits init_sample — asserted by the twin)."""
    from org_dharts_dia_tesseract_spark.operators.similarity import \
        semdedup
    from org_dharts_dia_tesseract_spark.sources.tables import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, n_lists=8, threshold=0.35)


def _semdedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over a PERSISTED IVF index — the write-once/dedup-many
    shape: `ivf_write_index` stores (vec_id, embedding, list_id)
    partitionBy(list_id) once, then the dedup sweep reads the stored
    assignment and runs only the shared `_semdedup_over_assigned` back
    half (scan -> one list_id exchange -> per-cluster numpy prune); no
    train/assign stage anywhere in the read plan (pinned by
    tests/test_semdedup.py::test_indexed_plan_has_no_assignment_stage).
    The index's kmeans model is identical to semdedup's own (same
    kmeans_centroids defaults over the same corpus), so the kept set —
    and the oracle parquet — is bit-identical to semdedup_kept's; what
    this gate adds over it is the stored-assignment read path."""
    from org_dharts_dia_tesseract_spark.operators.similarity import (
        ivf_write_index, semdedup_indexed)
    from org_dharts_dia_tesseract_spark.sources.tables import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    path = _index_path("semdedup_index", sf_dir)
    ivf_write_index(emb, path, n_lists=8)
    return semdedup_indexed(spark, path, threshold=0.35)


def _audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio tier of the multimodal surface: WAV (RIFF/PCM, 8/16-bit,
    mono/stereo) decoded by the from-scratch codecs_wav and reduced to
    per-clip signal features (duration/RMS/peak/zero-crossing-rate) in
    one narrow mapInPandas stage — zero shuffles, payloads stay in
    their scan partition. The oracle parquet is the single-process twin
    over the identical deterministic clips (same wav_features kernel),
    so values hash bit-identically."""
    from org_dharts_dia_tesseract_spark.operators.multimodal import \
        audio_features
    from org_dharts_dia_tesseract_spark.sources.tables import audio_table
    return audio_features(audio_table(spark, _MEDIA_DOC_CAP))


def _audio_features_drop_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 corrupt-payload policy, driver-verified end-to-end: the
    same 200 deterministic clips PLUS two injected undecodable payloads
    (truncated RIFF header; non-RIFF bytes), run with on_error='drop'.
    One corrupt clip must not kill a 10^12-row job: the corrupt rows
    vanish (counted on the plan via multimodal.
    last_decode_error_observation) and the survivors must hash
    bit-identically to the CLEAN single-process expectation — the gate
    fails if the drop path drops too much, too little, or perturbs any
    surviving value."""
    from org_dharts_dia_tesseract_spark.operators.multimodal import \
        audio_features
    from org_dharts_dia_tesseract_spark.sources.tables import audio_table
    clips = _with_corrupt(spark, audio_table(spark, _MEDIA_DOC_CAP),
                          "audio_ref",
                          {"aud-corrupt-0": b"RIFF\x04\x00\x00\x00WAVE",
                           "aud-corrupt-1": b"not-even-riff-bytes"})
    return audio_features(clips, on_error="drop")


def _video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video tier of the multimodal surface (round-4 verdict item 6 —
    the last simulated modality made real): MJPEG-in-AVI clips decoded
    by the from-scratch RIFF/AVI + JPEG codecs (codecs_avi ->
    codecs_img), every 2nd frame sampled, per-frame luma/ink features
    in one narrow mapInPandas stage — zero shuffles, payloads stay in
    their scan partition. The oracle parquet is the single-process twin
    over the identical deterministic clips (same avi_frame_features
    kernel), so values hash bit-identically."""
    from org_dharts_dia_tesseract_spark.operators.multimodal import \
        video_frame_features
    from org_dharts_dia_tesseract_spark.sources.tables import video_table
    return video_frame_features(video_table(spark, _MEDIA_DOC_CAP), every_k=2)


def _video_frame_features_drop_policy(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Video twin of _audio_features_drop_policy: the same 200
    deterministic MJPEG-in-AVI clips PLUS two injected undecodable
    payloads (truncated RIFF; non-RIFF bytes), run with
    on_error='drop'. The corrupt clips' rows must vanish (counted on
    the plan) and every surviving frame row must hash bit-identically
    to the CLEAN single-process expectation."""
    from org_dharts_dia_tesseract_spark.operators.multimodal import \
        video_frame_features
    from org_dharts_dia_tesseract_spark.sources.tables import video_table
    clips = _with_corrupt(spark, video_table(spark, _MEDIA_DOC_CAP),
                          "video_ref",
                          {"vid-corrupt-0": b"RIFF\x08\x00\x00\x00AVI LIST",
                           "vid-corrupt-1": b"these are not riff bytes"})
    return video_frame_features(clips, every_k=2, on_error="drop")


def _pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text-layer parse: render each document's text spans as a
    Tj-stream PDF (sink), then parse the shown strings back out
    (source). The oracle parquet is computed PDF-FREE from the raw
    spans, so a writer/parser bug on either side breaks the hash."""
    from org_dharts_dia_tesseract_spark.operators.pdf import (
        docs_to_pdf, pdf_extract_text)
    docs, _ = _interleaved_corpus(spark, sf_dir, _MEDIA_DOC_CAP)
    return pdf_extract_text(docs_to_pdf(docs))


def _ocr_spans_lang_hin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span extraction initialized with the SECOND installed language
    pack ('hin': a different deterministic glyph atlas). Recognition
    templates come from the loaded pack, so the output TEXT differs from
    the 'eng' run — the init language spec changes recognition, not just
    config state (TesseractHandle.init:399-459)."""
    from org_dharts_dia_tesseract_spark.operators import extract_spans
    docs, media = _interleaved_corpus(spark, sf_dir, _MEDIA_DOC_CAP)
    return extract_spans(docs, media, languages="hin")


# Registry order, of which the correctness gate checks the first 50; the
# rotation contract and every placement's rationale: COVERAGE.md, "Driver
# window".
_PRIORITY = [
    # (0) new this round
    "semdedup_kept",
    "video_frame_features", "ivfpq_indexed_topk", "dedup_clusters_star",
    "audio_features_drop_policy", "video_frame_features_drop_policy",
    # (1) round-4 rewrites never driver-verified
    "ntile_price_quartiles", "dedup_clusters",
    # (2) round-4-green, code changed this round
    "pq_topk_adc", "ivfpq_topk_probe_all", "audio_features",
    # (3) round-3-green backlog (44 of 48; the 4 left out: COVERAGE.md)
    "ocr_extract_spans", "ocr_hierarchy", "ocr_layout_only",
    "html_main_content", "winnow_fingerprints", "pii_scrub",
    "type_token_ratio", "tfidf_top_terms", "doc_fingerprint",
    "similarity_topk_cosine",
    "anti_join_idle_customers", "semi_join_active_parts",
    "events_pivot_counts", "set_ops_buyers_vs_eventusers",
    "range_join_error_after_signup", "minby_cheapest_part_per_brand",
    "asof_join_last_click",
    "embedding_near_dup_pairs", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "cube_revenue_nation_status",
    "running_total_revenue", "moving_avg_value_1h",
    "above_nation_avg_balance", "monthly_revenue_timeseries",
    "paragraph_dedup", "benchmark_contamination", "repetition_quality",
    "line_dedup_global", "ocr_spans_bmp_media",
    "ocr_spans_deflate_media", "ocr_spans_png_media",
    "ocr_spans_gif_media", "ocr_spans_jpeg_media", "ocr_spans_jp2_media",
    "ocr_spans_pdf_media", "pdf_text_extract", "ocr_spans_lang_hin",
    "ocr_unlv_text",
    # ---- the 50-entry cap lands here: nothing below is gate-checked
    "semdedup_indexed", "bloom_novel_docs", "stratified_sample_docs",
    "ocr_page_osd", "ocr_tiff_merge", "embedding_norms",
    "ocr_training_corpus", "ocr_annotated_pages", "ocr_word_font_attrs",
    "rollup_orders_by_status",
    # round-4-green tranche (1 round stale), stalest-first convention
    "ocr_dpi_font_attrs", "ocr_spans_jpeg_color_media",
    "ocr_spans_jpeg_prog_media", "ocr_spans_png_palette_media",
    "ocr_spans_tiff_bilevel_media", "ocr_spans_tiff_g4_media",
    "ocr_spans_pdf_g4_media", "audio_features",
    "json_props_extract", "array_component_stats",
    "all_word_confidences", "begin_final_flags", "box_text_output",
    "box_union", "char_whitelist", "cms_hot_users", "dedup_exact",
    "events_sessionize", "grouping_sets_revenue", "histogram_price_bins",
    "hll_distinct_users", "hocr_output", "html_boilerplate_strip",
    "ivf_topk_probe_all", "join_orders_customer", "lang_id_heuristic",
    "lang_set_algebra", "mean_word_conf", "minhash_lsh_pairs",
    "minhash_signatures", "ngram_jaccard_band_blocked",
    "ngram_jaccard_pairs", "percent_rank_prices",
    "price_quantiles_by_segment", "quality_score", "roi_filter",
    "rollup_doc_text", "simhash32", "simhash_near_dup_pairs",
    "spans_explode_seq", "sql_tpch_q6_forecast_revenue", "token_count",
    "topk_orders_per_customer", "tpch_pricing_rollup",
    "tpch_q10_returned_items", "tpch_q18_large_orders", "utf8_page_text",
    "word_flags",
]


# Raster-pipeline gates: each is oracled by a parquet expectation table
# generated ONCE by the single-process numpy oracle (scripts/
# gen_expected.py — analyze_page/document_spans assembled with plain
# Python, no Spark), so the driver verifies rows+schema+hash, not just
# row counts. The expectations are a pure function of the doc-count cap
# (the corpus derives from doc ids), hence valid at every driver sf.
_RASTER_GATES = {
    "ocr_extract_spans": _ocr_extract_spans,
    "ocr_hierarchy": _ocr_hierarchy,
    "ocr_layout_only": _ocr_layout_only,
    "ocr_training_corpus": _ocr_training_corpus,
    "ocr_annotated_pages": _ocr_annotated_pages,
    "ocr_word_font_attrs": _ocr_word_font_attrs,
    "ocr_dpi_font_attrs": _ocr_dpi_font_attrs,
    **{name: _media_span_gate(**kw)
       for name, kw in _MEDIA_SPAN_GATES.items()},
    "audio_features": _audio_features,
    "audio_features_drop_policy": _audio_features_drop_policy,
    "video_frame_features_drop_policy": _video_frame_features_drop_policy,
    "pq_topk_adc": _pq_topk_adc,
    "ivfpq_topk_probe_all": _ivfpq_topk_probe_all,
    "ivfpq_indexed_topk": _ivfpq_indexed_topk,
    "semdedup_kept": _semdedup_kept,
    "semdedup_indexed": _semdedup_indexed,
    "video_frame_features": _video_frame_features,
    "pdf_text_extract": _pdf_text_extract,
    "ocr_spans_lang_hin": _ocr_spans_lang_hin,
    "ocr_unlv_text": _ocr_unlv_text,
    "ocr_page_osd": _ocr_page_osd,
    "ocr_tiff_merge": _ocr_tiff_merge,
}

_EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "tests", "expected")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    from org_dharts_dia_tesseract_spark.queries import spark_queries
    out = dict(spark_queries())
    out.update(_RASTER_GATES)
    ordered = {k: out[k] for k in _PRIORITY if k in out}
    ordered.update({k: v for k, v in out.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for every query: flat-table entries carry
    hand-written ANSI oracles; raster/HTML-kernel entries read their
    single-process-oracle expectation parquet (tests/expected/)."""
    from org_dharts_dia_tesseract_spark.queries import duckdb_oracles
    out = dict(duckdb_oracles())
    for name in list(_RASTER_GATES) + ["html_main_content"]:
        path = os.path.join(_EXPECTED_DIR, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = f"SELECT * FROM read_parquet('{path}')"
    return out
