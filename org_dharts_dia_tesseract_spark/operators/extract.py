"""The flagship distributed pipeline: interleaved docs -> ordered OCR spans.

Spark-first rebuild of the reference's analyze/recognize flows
(ImageAnalyzerFactory.analyzeLayout:472-488 / recognize:491-507, both
delegating to the native engine): the per-page kernel is the same numpy
code the oracle runs (oracle.analyze_page), run per page inside one
`mapInPandas` stage over Arrow batches (operators._rows.map_rows, which
also owns the on_error policy); everything around it — explode,
join, skew defusal, ordering, assembly — is declarative DataFrame API so
Catalyst plans it (predicate pushdown, AQE shuffle sizing, broadcast
selection).

Scale design (SURVEY sections 3.4 / 4.3):
- spans explode first; only image spans join media (1:1 on media_ref).
  Locally the lean span side is broadcast (verified BuildLeft in the
  plan), so raster payloads NEVER shuffle; at cluster scale, where the
  span side exceeds the broadcast threshold, Catalyst falls back to a
  shuffled join on media_ref — a per-page key, so partitioning is
  uniform regardless of how image-heavy any document is. That per-page
  fan-out IS the skew defusal of the north rule: a 128-image skew-tail
  doc lands on ~128 different tasks by construction. `salt_partitions`
  forces an extra (payload-shuffling) repartition on (doc_id, offset)
  and exists for media-size-skew pathologies only — leave it None.
- raster payload columns are dropped inside the OCR stage; nothing heavy
  crosses the final shuffle.
- the final ordering is an explicit window over (offset, sub) — Spark has
  no implicit order; `seq` is a dense per-doc rank, never
  monotonically_increasing_id (determinism).
"""

from __future__ import annotations

import time
from operator import itemgetter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._rows import map_rows

SPAN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
    T.StructField("sub", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("seq", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
])

HIERARCHY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
    T.StructField("level", T.StringType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("para_id", T.IntegerType(), False),
    T.StructField("line_id", T.IntegerType(), False),
    T.StructField("word_id", T.IntegerType(), False),
    T.StructField("sym_id", T.IntegerType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("block_type", T.StringType(), False),
    T.StructField("left", T.IntegerType(), False),
    T.StructField("top", T.IntegerType(), False),
    T.StructField("right", T.IntegerType(), False),
    T.StructField("bottom", T.IntegerType(), False),
    T.StructField("baseline_x1", T.IntegerType(), True),
    T.StructField("baseline_y1", T.IntegerType(), True),
    T.StructField("baseline_x2", T.IntegerType(), True),
    T.StructField("baseline_y2", T.IntegerType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("confidence", T.FloatType(), True),
    T.StructField("is_virtual", T.BooleanType(), False),
    # PARA rows: justification (PublicTypes.java:281-313)
    T.StructField("justification", T.StringType(), True),
    # BLOCK rows: orientation (I8)
    T.StructField("orientation", T.StringType(), True),
    T.StructField("writing_direction", T.StringType(), True),
    T.StructField("textline_order", T.StringType(), True),
    T.StructField("deskew_angle", T.FloatType(), True),
    # WORD rows: font attributes + word predicates (R3-R5); all 9
    # FontAttributes.java:28-59 fields surface as columns
    T.StructField("font_bold", T.BooleanType(), True),
    T.StructField("font_italic", T.BooleanType(), True),
    T.StructField("font_underlined", T.BooleanType(), True),
    T.StructField("font_monospace", T.BooleanType(), True),
    T.StructField("font_serif", T.BooleanType(), True),
    T.StructField("font_smallcaps", T.BooleanType(), True),
    T.StructField("font_pointsize", T.IntegerType(), True),
    T.StructField("font_id", T.IntegerType(), True),
    T.StructField("font_name", T.StringType(), True),
    T.StructField("is_dictionary_word", T.BooleanType(), True),
    T.StructField("is_numeric_word", T.BooleanType(), True),
    # SYMBOL rows: typography flags (R6)
    T.StructField("is_subscript", T.BooleanType(), True),
    T.StructField("is_superscript", T.BooleanType(), True),
    T.StructField("is_dropcap", T.BooleanType(), True),
])


def _exploded(documents: DataFrame) -> DataFrame:
    """documents -> one row per span (S2 posexplode mapping)."""
    return documents.select(
        "doc_id",
        F.explode("spans").alias("span"),
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _joined_images(documents: DataFrame, media: DataFrame,
                   broadcast_media: bool) -> DataFrame:
    img = _exploded(documents).where(F.col("kind") == "image") \
        .select("doc_id", "offset", "media_ref")
    m = F.broadcast(media) if broadcast_media else media
    return img.join(m, "media_ref")


def _page_deadline(timeout_ms: int | None):
    """Context manager: a soft per-page time budget via SIGALRM — the
    analog of the reference's per-page timeout (TessAPI.java:464-481
    recognizeWithTimeout takes timeout_millisec). Fires TimeoutError
    inside the page's decode/analyze, which the on_error policy turns
    into a dead-letter span, so one pathological page cannot stall a
    task until the Spark task reaper. Soft: a single long-running numpy
    kernel is only interrupted when Python regains control; signals are
    per-process-main-thread, so outside one (exotic worker setups) the
    budget degrades to no-op rather than crashing."""
    import contextlib
    import signal

    @contextlib.contextmanager
    def cm():
        if not timeout_ms:
            yield
            return
        armed = [True]

        def on_alarm(signum, frame):
            if armed[0]:              # a late fire (work already done,
                raise TimeoutError(   # cleanup underway) must not raise
                    f"page exceeded time budget of {timeout_ms} ms")
        try:
            old = signal.signal(signal.SIGALRM, on_alarm)
        except ValueError:            # not the main thread: no budget
            yield
            return
        # ITIMER_REAL is process-wide: remember any timer another owner
        # had running so exit RESTORES it (minus the time we consumed,
        # on the monotonic clock — wall time can step under NTP)
        # instead of silently cancelling it
        t0 = time.monotonic()
        prev_value, prev_interval = signal.setitimer(
            signal.ITIMER_REAL, timeout_ms / 1000.0)
        try:
            yield
            # the body completed: disarm BEFORE any cleanup so an alarm
            # landing between the last body statement and setitimer(0)
            # is ignored instead of misreporting a finished page as a
            # timeout (the raise window shrinks to ~one bytecode)
            armed[0] = False
        finally:
            armed[0] = False
            signal.setitimer(signal.ITIMER_REAL, 0)
            # foreign handler FIRST, only then re-arm the foreign timer:
            # an expired-or-nearly-expired foreign timer must fire into
            # ITS handler, not into on_alarm (which, disarmed, would
            # swallow the signal and lose the foreign alarm for good)
            signal.signal(signal.SIGALRM, old)
            if prev_value > 0:
                remaining = prev_value - (time.monotonic() - t0)
                signal.setitimer(signal.ITIMER_REAL,
                                 max(remaining, 1e-6), prev_interval)
    return cm


def _ocr_stage(rows: DataFrame, psm: str, salt_partitions: int | None,
               on_error: str = "fail",
               langs: tuple[str, ...] = ("eng",),
               page_timeout_ms: int | None = None) -> DataFrame:
    """Image-span rows (with payload) -> block-level sub-spans.

    on_error: 'fail' | 'dead-letter' (policy semantics: operators._rows).
    A dead-lettered page becomes one in-band span (kind='error',
    text=<reason>) so one corrupt blob cannot kill a 10^12-doc job.
    page_timeout_ms is the per-page budget (see _page_deadline)."""
    if salt_partitions:
        rows = rows.repartition(salt_partitions, "doc_id", "offset")

    def per_row(r):
        from ..oracle.page import analyze_page, decode_payload
        with _page_deadline(page_timeout_ms)():
            img = decode_payload(r.payload, r.width, r.height, r.bands)
            res = analyze_page(img, psm=psm, langs=langs)
        for i, (kind, text, ref) in enumerate(res.block_spans(r.media_ref)):
            yield r.doc_id, r.offset, i, kind, text, ref

    def error_rows(r, e):
        yield (r.doc_id, r.offset, 0, "error",
               f"{type(e).__name__}: {e}"[:200], r.media_ref)

    return map_rows(rows, SPAN_SCHEMA, per_row, on_error, error_rows)


def audit_dangling_media(documents: DataFrame,
                         media: DataFrame) -> DataFrame:
    """Image spans whose media_ref has no media row.

    The OCR stage's inner join would drop these silently — at corpus
    scale dangling refs are a data-quality fact to surface, not hide, so
    the checkpointed runner records this audit in its manifests
    (mirrors the reference failing a document whose image cannot be
    read, ImageIOHelper.readImageData). Lean plan: only media_ref is
    scanned on the media side (payload column pruned), anti join."""
    img = _exploded(documents).where(F.col("kind") == "image") \
        .select("doc_id", "offset", "media_ref")
    return img.join(media.select("media_ref"), "media_ref", "left_anti")


def extract_spans(documents: DataFrame, media: DataFrame, *,
                  psm: str = "AUTO",
                  broadcast_media: bool = False,
                  salt_partitions: int | None = None,
                  on_error: str = "fail",
                  languages: str = "eng",
                  page_timeout_ms: int | None = None) -> DataFrame:
    """Flagship query: (documents, media) -> ordered span table
    (doc_id, seq, kind, text, media_ref) — the invariant's exact shape
    (FIXTURES.md section 4 / BASELINE.json input_hint). on_error:
    'fail' | 'dead-letter' (see operators._rows). `languages` is the init
    spec '[~]lang[+[~]lang]*' (TesseractHandle.init:399-459): the
    resolved pack load order feeds recognition templates, so the spec
    changes recognized text, not just config state. page_timeout_ms is
    the per-page soft budget (TessAPI.java:464-481 timeout_millisec
    analog) — pair with on_error='dead-letter'."""
    from ..functions.config import resolve_languages
    langs = resolve_languages(languages)
    text_spans = (_exploded(documents)
                  .where(F.col("kind") == "text")
                  .select("doc_id", "offset", F.lit(0).alias("sub"),
                          "kind", "text", "media_ref"))
    ocr_spans = _ocr_stage(
        _joined_images(documents, media, broadcast_media),
        psm, salt_partitions, on_error, langs, page_timeout_ms)
    all_spans = text_spans.unionByName(ocr_spans)
    w = Window.partitionBy("doc_id").orderBy("offset", "sub")
    return (all_spans
            .withColumn("seq", (F.row_number().over(w) - 1).cast("long"))
            .select("doc_id", "seq", "kind", "text", "media_ref"))


OSD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("orientation", T.StringType(), False),
    T.StructField("rotation_degrees", T.IntegerType(), False),
    T.StructField("osd_confidence", T.FloatType(), False),
    T.StructField("script", T.StringType(), False),
])


def page_osd(documents: DataFrame, media: DataFrame, *,
             broadcast_media: bool = False) -> DataFrame:
    """Page-level orientation & script detection (PSM OSD_ONLY /
    AUTO_OSD): one row per page with the rotation-confidence argmax OSD
    verdict. Same partitioning as the OCR stage (per-page rows; payloads
    never shuffle)."""
    def per_row(r):
        from ..oracle.page import decode_payload, detect_page_osd
        osd = detect_page_osd(
            decode_payload(r.payload, r.width, r.height, r.bands))
        yield (r.doc_id, r.media_ref, osd["orientation"],
               osd["rotation_degrees"], osd["osd_confidence"], osd["script"])

    return map_rows(_joined_images(documents, media, broadcast_media),
                    OSD_SCHEMA, per_row)


def analyze_documents(documents: DataFrame, media: DataFrame, *,
                      psm: str = "AUTO", recognize: bool = True,
                      whitelist: str | None = None,
                      roi: tuple[int, int, int, int] | None = None,
                      broadcast_media: bool = False,
                      salt_partitions: int | None = None,
                      languages: str = "eng") -> DataFrame:
    """Full hierarchy materialization: one row per node per page
    (the DataFrame form of the native PAGE_RES tree — SURVEY section 1.6).

    recognize=False is analyzeLayout (no classification cost); whitelist
    mirrors tessedit_char_whitelist; roi mirrors setRectangle (full-image
    coordinates preserved); languages is the init language spec (resolved
    pack order feeds the recognition templates).
    """
    from ..functions.config import resolve_languages
    langs = resolve_languages(languages)
    rows = _joined_images(documents, media, broadcast_media)
    if salt_partitions:
        rows = rows.repartition(salt_partitions, "doc_id", "offset")

    node_fields = itemgetter(*HIERARCHY_SCHEMA.fieldNames()[3:])

    def per_row(r):
        from ..oracle.page import analyze_page, decode_payload, resolve_ppi
        img = decode_payload(r.payload, r.width, r.height, r.bands)
        # S5 resolution chain: embedded metadata > dpi column > screen
        # default (ImageIOHelper.readImageData:379-407); feeds
        # font_pointsize (points = px * 72 / ppi)
        ppi = resolve_ppi(r.payload, getattr(r, "dpi", None))
        res = analyze_page(img, psm=psm, recognize=recognize,
                           whitelist=whitelist, roi=roi, langs=langs, ppi=ppi)
        for node in res.rows():
            yield (r.doc_id, r.media_ref, r.offset) + node_fields(node)

    return map_rows(rows, HIERARCHY_SCHEMA, per_row)
