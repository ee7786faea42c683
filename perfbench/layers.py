"""Single-process per-layer timings of the page kernel and the codecs.

Each public function of the kernel is timed on the workload's own pages in
this process, outside Spark, so the Spark stage times can be compared with
the pure kernel cost of the same pages.
"""

from __future__ import annotations

import time

# Codec mix for the decode probe: name -> encoder keyword arguments.
CODECS = {"png": {}, "tiff": {"compression": "deflate"}, "gif": {},
          "pdf": {}, "jpeg": {}}
CODEC_SAMPLE_PAGES = 8


def kernel(media_rows: list[dict], tracer) -> tuple[dict[str, float],
                                                   float]:
    """oracle.* metrics over every page: decode, the three span-path
    steps, the full analyze_page, and hierarchy row assembly. Also returns
    the decode + analyze_page seconds of all pages: what the UDF stage
    would cost with no Arrow/pandas boundary, no worker and no
    scheduling."""
    from org_dharts_dia_tesseract_spark.oracle.binarize import otsu_binarize
    from org_dharts_dia_tesseract_spark.oracle.page import (analyze_page,
                                                            decode_payload)
    from org_dharts_dia_tesseract_spark.oracle.recognize import \
        recognize_blocks
    from org_dharts_dia_tesseract_spark.oracle.segment import segment

    tot = dict.fromkeys(("decode_payload", "otsu_binarize", "segment",
                         "recognize_blocks", "analyze_page", "rows"), 0.0)
    blocks = rows = 0
    pc = time.perf_counter

    def timed(name, fn, *args):
        with tracer.span(f"oracle.{name}"):
            t = pc()
            out = fn(*args)
            tot[name] += pc() - t
        return out

    for m in media_rows:
        with tracer.span("kernel.page", media_ref=m["media_ref"]):
            img = timed("decode_payload", decode_payload, m["payload"],
                        m["width"], m["height"], m["bands"])
            ink = timed("otsu_binarize", otsu_binarize, img)
            blk = timed("segment", segment, ink)
            timed("recognize_blocks", recognize_blocks, blk)
            res = timed("analyze_page", analyze_page, img)
            rows += len(timed("rows", res.rows))
            blocks += len(res.blocks)
    n = len(media_rows)
    if not n:
        return {}, 0.0
    span_path = tot["otsu_binarize"] + tot["segment"] \
        + tot["recognize_blocks"]
    out = {f"oracle.{k}.ms_per_page": 1000.0 * v / n
           for k, v in tot.items()}
    out["oracle.decorate.ms_per_page"] = \
        1000.0 * (tot["analyze_page"] - span_path) / n
    out["oracle.rows.rows_per_page"] = rows / n
    out["oracle.pages"] = float(n)
    out["oracle.blocks_per_page"] = blocks / n
    out["oracle.span_path_useful_frac"] = span_path / tot["analyze_page"]
    return out, tot["decode_payload"] + tot["analyze_page"]


def codecs(media_rows: list[dict], tracer) -> dict[str, float]:
    """codecs.<name>.ms_per_page: decode time of the first pages of the
    workload, each re-encoded once (untimed) with every codec."""
    import numpy as np

    from org_dharts_dia_tesseract_spark.codecs_img import DECODERS, ENCODERS

    sample = media_rows[:CODEC_SAMPLE_PAGES]
    imgs = [np.frombuffer(m["payload"], np.uint8)
            .reshape(m["height"], m["width"]) for m in sample]
    out = {}
    for name, kw in CODECS.items():
        blobs = [ENCODERS[name](img, **kw) for img in imgs]
        t = 0.0
        for blob in blobs:
            with tracer.span(f"codecs.{name}"):
                t0 = time.perf_counter()
                DECODERS[name](blob)
                t += time.perf_counter() - t0
        out[f"codecs.{name}.ms_per_page"] = 1000.0 * t / len(blobs)
    return out
