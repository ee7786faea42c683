"""Materialize the single-process numpy-oracle expectations for every
raster/HTML gate as parquet, so the driver's DuckDB oracle can verify
them rows+schema+hash instead of rows-only.

Why this is a REAL oracle and not the Spark output round-tripped: every
kernel here is the single-process oracle path (oracle.page.analyze_page,
oracle.page.document_spans, codecs_img, boilerplate._main_content_of)
assembled with plain Python loops/dicts — no Spark session is ever
created. The Spark pipeline must reproduce these rows through its own
explode/join/window/mapInPandas assembly; partitioning, ordering or
assembly bugs show up as driver hash mismatches.

Determinism & scale-independence: the interleaved corpus is a pure
function of the document COUNT (doc ids `doc-%08d`; content keyed by id
— datagen.py), and every gate caps its doc budget at 400/200/100
(`__spark_entry__._*_DOC_CAP`, imported here with the span-over-media
gate table; importing the entry module loads pyspark modules but never
starts a session), while each gate sf dir holds >= 500 documents.
The expectations are therefore valid for ANY sf dir (sf0.001/sf0.01/
sf0.1 alike), except `html_main_content` and the embedding gates, which
read the sf dir's tables and are generated per sf (default sf0.01, the
gate scale).

Reproducibility: a regeneration rewrites 32 of the 35 parquets
byte-identically. The other three (pq_topk_adc, ivfpq_topk_probe_all,
ivfpq_indexed_topk) keep the same ids and ranks, but adc_ip can move in
the last bits (<= 1.2e-16 seen on a 4-core x86 host). The gate compares
floats at 6 significant digits (tests/parity.py:_canon_val), so both
versions pass; those three files are not re-committed from a
regeneration.

Run (regenerates tests/expected/):  python scripts/gen_expected.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import (_ANNOTATED_DOC_CAP, _MEDIA_DOC_CAP,
                             _MEDIA_SPAN_GATES, _PIPELINE_DOC_CAP)
from org_dharts_dia_tesseract_spark.codecs_img import encode_tiff_multipage
from org_dharts_dia_tesseract_spark.datagen import (doc_spans_for,
                                                    media_row_for)
from org_dharts_dia_tesseract_spark.operators.boilerplate import \
    _main_content_of
from org_dharts_dia_tesseract_spark.oracle.page import (analyze_page, resolve_ppi,
                                                        decode_payload,
                                                        detect_page_osd,
                                                        document_spans)

EXPECTED_DIR = os.path.join(REPO, "tests", "expected")

_ANNOT_LEVELS = ("BLOCK", "TEXTLINE", "WORD")


# -- corpus (single-process twin of sources.corpus_tables) ------------------

class Corpus:
    def __init__(self, n_docs: int):
        self.docs = [{"doc_id": f"doc-{i:08d}",
                      "spans": doc_spans_for(f"doc-{i:08d}")}
                     for i in range(n_docs)]
        self._media: dict[str, dict] = {}
        self._pages: dict[tuple, "object"] = {}

    def media(self, ref: str) -> dict:
        if ref not in self._media:
            self._media[ref] = media_row_for(ref)
        return self._media[ref]

    def image(self, ref: str) -> np.ndarray:
        m = self.media(ref)
        return decode_payload(m["payload"], m["width"], m["height"],
                              m["bands"])

    def page(self, ref: str, recognize: bool = True,
             langs: tuple[str, ...] = ("eng",), ppi: int | None = None):
        """Memoized analyze_page (AUTO psm) — reused across gates.
        ppi=None applies the S5 resolution chain (embedded metadata >
        media-table dpi > 96 default — oracle.page.resolve_ppi), same as
        the distributed hierarchy stage; an explicit ppi overrides (the
        embedded-DPI gate's expectation)."""
        key = (ref, recognize, langs, ppi)
        if key not in self._pages:
            m = self.media(ref)
            use = ppi or resolve_ppi(m["payload"], m.get("dpi"))
            self._pages[key] = analyze_page(self.image(ref), psm="AUTO",
                                            recognize=recognize, langs=langs,
                                            ppi=use)
        return self._pages[key]

    def image_spans(self, n_docs: int):
        """(doc, span) pairs for image spans of the first n docs."""
        for doc in self.docs[:n_docs]:
            for s in doc["spans"]:
                if s["kind"] == "image":
                    yield doc, s


# -- gate builders ----------------------------------------------------------

def _span_rows(corpus: Corpus, n_docs: int,
               langs: tuple[str, ...] = ("eng",)) -> list[dict]:
    rows = []
    for doc in corpus.docs[:n_docs]:
        rows.extend(document_spans(
            doc, lambda ref: corpus.media(ref), langs=langs))
    return rows


_SPANS_SCHEMA = pa.schema({"doc_id": pa.string(), "seq": pa.int64(),
                           "kind": pa.string(), "text": pa.string(),
                           "media_ref": pa.string()})


def _spans_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=_SPANS_SCHEMA)


def _hierarchy_rows(corpus: Corpus, n_docs: int, recognize: bool = True,
                    ppi: int | None = None):
    """One dict per hierarchy node with (doc_id, media_ref, offset)."""
    for doc, s in corpus.image_spans(n_docs):
        res = corpus.page(s["media_ref"], recognize=recognize, ppi=ppi)
        for r in res.rows():
            yield {"doc_id": doc["doc_id"], "media_ref": s["media_ref"],
                   "offset": s["offset"], **r}


_HIER_I32 = ("block_id", "para_id", "line_id", "word_id", "sym_id", "seq",
             "left", "top", "right", "bottom")
_HIER_I32_NULL = ("baseline_x1", "baseline_y1", "baseline_x2", "baseline_y2",
                  "font_pointsize", "font_id")
_HIER_BOOL = ("font_bold", "font_italic", "font_underlined",
              "font_monospace", "font_serif", "font_smallcaps",
              "is_dictionary_word", "is_numeric_word",
              "is_subscript", "is_superscript", "is_dropcap")


_HIERARCHY_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("media_ref", pa.string()),
     ("offset", pa.int32()), ("level", pa.string())]
    + [(n, pa.int32()) for n in _HIER_I32 + _HIER_I32_NULL]
    + [("block_type", pa.string()), ("text", pa.string()),
       ("confidence", pa.float32()), ("is_virtual", pa.bool_()),
       ("justification", pa.string()), ("orientation", pa.string()),
       ("writing_direction", pa.string()), ("textline_order", pa.string()),
       ("deskew_angle", pa.float32()), ("font_name", pa.string())]
    + [(n, pa.bool_()) for n in _HIER_BOOL])


def _layout_table(corpus: Corpus, n_docs: int) -> pa.Table:
    counts: dict[tuple, int] = {}
    for r in _hierarchy_rows(corpus, n_docs, recognize=False):
        k = (r["media_ref"], r["level"])
        counts[k] = counts.get(k, 0) + 1
    return pa.Table.from_pylist(
        [{"media_ref": ref, "level": lvl, "n_nodes": n}
         for (ref, lvl), n in counts.items()],
        schema=pa.schema({"media_ref": pa.string(), "level": pa.string(),
                          "n_nodes": pa.int64()}))


_FONT_ATTRS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("media_ref", pa.string())]
    + [(n, pa.int32()) for n in ("block_id", "para_id", "line_id")]
    + [(n, pa.bool_()) for n in ("font_bold", "font_italic",
                                 "font_underlined", "font_monospace",
                                 "font_serif", "font_smallcaps")]
    + [("font_pointsize", pa.int32()), ("font_id", pa.int32()),
       ("font_name", pa.string())])


def _font_attrs_table(rows: list[dict]) -> pa.Table:
    """level_font_attributes(h, 'TEXTLINE'): the line's FIRST word."""
    best: dict[tuple, dict] = {}
    for r in rows:
        if r["level"] != "WORD" or r.get("font_name") is None:
            continue
        k = (r["doc_id"], r["media_ref"], r["block_id"], r["para_id"],
             r["line_id"])
        if k not in best or r["seq"] < best[k]["seq"]:
            best[k] = r
    return pa.Table.from_pylist([best[k] for k in sorted(best)],
                                schema=_FONT_ATTRS_SCHEMA)


def _unlv_table(rows: list[dict], reject_below: float = 50.0,
                suspect_below: float = 80.0) -> pa.Table:
    """operators.sinks.unlv_text twin over the oracle hierarchy rows."""
    words: dict[tuple, list[dict]] = {}
    for r in rows:
        if r["level"] != "SYMBOL" or r.get("text") is None:
            continue
        k = (r["doc_id"], r["media_ref"], r["block_id"], r["para_id"],
             r["line_id"], r["word_id"])
        words.setdefault(k, []).append(r)
    lines: dict[tuple, list[tuple[int, str]]] = {}
    for k, syms in words.items():
        syms.sort(key=lambda s: s["seq"])
        w = "".join("~" if s["confidence"] < reject_below
                    else re.sub(r"[^\x00-\xff]", "~", s["text"])
                    for s in syms)
        if min(s["confidence"] for s in syms) < suspect_below:
            w = "^" + w
        lines.setdefault(k[:5], []).append((syms[0]["seq"], w))
    pages: dict[tuple, list[tuple[int, str]]] = {}
    for (doc_id, ref, b, p, ln), ws in lines.items():
        ws.sort()
        order_key = b * 1_000_000 + p * 10_000 + ln
        pages.setdefault((doc_id, ref), []).append(
            (order_key, " ".join(w for _, w in ws)))
    return pa.Table.from_pylist(
        [{"doc_id": doc_id, "media_ref": ref,
          "unlv_text": "\n".join(t for _, t in sorted(ls))}
         for (doc_id, ref), ls in sorted(pages.items())],
        schema=pa.schema({"doc_id": pa.string(), "media_ref": pa.string(),
                          "unlv_text": pa.string()}))


def _osd_table(corpus: Corpus, n_docs: int) -> pa.Table:
    return pa.Table.from_pylist(
        [{"doc_id": doc["doc_id"], "media_ref": s["media_ref"],
          **detect_page_osd(corpus.image(s["media_ref"]))}
         for doc, s in corpus.image_spans(n_docs)],
        schema=pa.schema({"doc_id": pa.string(), "media_ref": pa.string(),
                          "orientation": pa.string(),
                          "rotation_degrees": pa.int32(),
                          "osd_confidence": pa.float32(),
                          "script": pa.string()}))


def _tiff_merge_table(corpus: Corpus, n_docs: int) -> pa.Table:
    rows = []
    for doc in corpus.docs[:n_docs]:
        refs = [s["media_ref"] for s in sorted(doc["spans"],
                                               key=lambda s: s["offset"])
                if s["kind"] == "image"]
        if not refs:
            continue
        blob = encode_tiff_multipage([corpus.image(r) for r in refs])
        rows.append({"doc_id": doc["doc_id"], "n_pages": len(refs),
                     "tiff_bytes": len(blob)})
    return pa.Table.from_pylist(rows, schema=pa.schema(
        {"doc_id": pa.string(), "n_pages": pa.int32(),
         "tiff_bytes": pa.int32()}))


def _annotated_table(corpus: Corpus, n_docs: int) -> pa.Table:
    rows = []
    for doc, s in corpus.image_spans(n_docs):
        res = corpus.page(s["media_ref"])
        n_boxes = sum(1 for r in res.rows() if r["level"] in _ANNOT_LEVELS)
        if n_boxes:
            rows.append({**corpus.media(s["media_ref"]), "n_boxes": n_boxes})
    return pa.Table.from_pylist(rows, schema=pa.schema(
        {"media_ref": pa.string(), "width": pa.int32(),
         "height": pa.int32(), "n_boxes": pa.int32()}))


# -- training corpus (operators.pipeline twin, hashlib-portable) ------------

def _spark_round(x: float, scale: int) -> float:
    """Spark ROUND = BigDecimal.valueOf(double).setScale(HALF_UP)."""
    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _minhash_losers(texts: dict[str, str], n_hashes: int = 8,
                    bands: int = 4) -> set[str]:
    """minhash_lsh_candidates twin: ids that are some pair's id_b."""
    rows_per_band = n_hashes // bands
    band_members: dict[str, list[str]] = {}
    for doc_id in sorted(texts):
        ws = [w for w in re.split(r"\s+", texts[doc_id]) if w != ""]
        if len(ws) < 3:
            continue
        shingles = {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
        mh = [min((int(_md5(sh)[:8], 16) + i * int(_md5(sh)[8:16], 16))
                  % (1 << 32) for sh in shingles) for i in range(n_hashes)]
        for b in range(bands):
            key = _md5("_".join(
                [str(b)] + [str(mh[b * rows_per_band + r])
                            for r in range(rows_per_band)]))
            band_members.setdefault(key, []).append(doc_id)
    losers: set[str] = set()
    for members in band_members.values():
        first = min(members)
        losers.update(m for m in members if m != first)
    return losers


def _training_table(span_rows: list[dict], min_tokens: int = 3) -> pa.Table:
    by_doc: dict[str, list[dict]] = {}
    for s in span_rows:
        by_doc.setdefault(s["doc_id"], []).append(s)
    per_doc: dict[str, dict] = {}
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda s: s["seq"])
        texts = [s["text"] for s in spans
                 if s["kind"] == "text" and s["text"] is not None]
        if not texts:
            continue
        text = "\n".join(texts)
        n_tokens = len(re.split(r"\s+", text.strip()))
        n_punct = sum(text.count(c) for c in ".,:;!?")
        per_doc[doc_id] = {
            "text": text, "n_text_spans": len(texts), "n_chars": len(text),
            "n_tokens": n_tokens,
            "punct_ratio": _spark_round(n_punct / max(len(text), 1), 4),
            "fingerprint": _md5(re.sub(r"\s+", " ", text).lower()),
        }
    groups: dict[str, list[str]] = {}
    for doc_id, r in per_doc.items():
        groups.setdefault(_md5(r["text"]), []).append(doc_id)
    deduped: dict[str, dict] = {}
    for ids in groups.values():
        winner = min(ids)
        deduped[winner] = {**per_doc[winner], "n_copies": len(ids)}
    losers = _minhash_losers({k: v["text"] for k, v in deduped.items()})
    return pa.Table.from_pylist(
        [{"doc_id": k, **r, "near_dup": k in losers,
          "keep": k not in losers and r["n_tokens"] >= min_tokens}
         for k, r in sorted(deduped.items())],
        schema=pa.schema({"doc_id": pa.string(), "n_text_spans": pa.int64(),
                          "n_chars": pa.int64(), "n_tokens": pa.int64(),
                          "punct_ratio": pa.float64(),
                          "fingerprint": pa.string(),
                          "n_copies": pa.int64(), "near_dup": pa.bool_(),
                          "keep": pa.bool_()}))


def _html_main_table(sf_dir: str) -> pa.Table:
    import duckdb
    docs = duckdb.sql(
        f"SELECT doc_id, text, source FROM '{sf_dir}/documents.parquet'"
    ).df()
    rows = []
    for r in docs.itertuples(index=False):
        html = (f"<html><head><title>d{r.doc_id}</title>"
                "<script>var x = 1 < 2;</script></head>"
                '<body><nav><a href="/">home</a> | <a href="/a">about</a>'
                f"</nav><header><h1>{r.source}</h1></header>"
                f"<!-- ad slot --><p>{r.text}</p>"
                "<footer>&copy; 2026</footer></body></html>")
        rows.append({"doc_id": r.doc_id,
                     "content": _main_content_of(html, 20, 0.4)})
    return pa.Table.from_pylist(rows, schema=pa.schema(
        {"doc_id": pa.int64(), "content": pa.string()}))


def _pdf_text_table(corpus: Corpus, n_docs: int) -> pa.Table:
    """pdf_text_extract expectation, computed PDF-FREE: the text lines a
    correct writer+parser round-trip must reproduce are exactly the raw
    text spans in offset order (operators/pdf.py:_text_lines twin)."""
    rows = []
    for doc in corpus.docs[:n_docs]:
        lines = [s["text"] for s in sorted(doc["spans"],
                                           key=lambda s: s["offset"])
                 if s["kind"] == "text"]
        rows.append({"doc_id": doc["doc_id"], "n_lines": len(lines),
                     "text": "\n".join(lines)})
    return pa.Table.from_pylist(rows, schema=pa.schema(
        {"doc_id": pa.string(), "n_lines": pa.int32(), "text": pa.string()}))


_TOPK_SCHEMA = pa.schema({"q_id": pa.int64(), "vec_id": pa.int64(),
                          "adc_ip": pa.float64(), "rk": pa.int32()})


def _topk_table(ids: np.ndarray, X: np.ndarray, score,
                k: int = 5) -> pa.Table:
    """Rank-k neighbours of each gate query (vec_id < 5), the query
    itself excluded, ordered by score desc then vec_id asc. `score(q)`
    returns (candidate ids, scores) over the vectors a method scans."""
    rows = []
    for qid in ids[ids < 5]:
        cand, s = score(X[int(np.nonzero(ids == qid)[0][0])])
        top = [b for b in np.lexsort((cand, -s)) if cand[b] != qid][:k]
        rows += [{"q_id": int(qid), "vec_id": int(cand[b]),
                  "adc_ip": float(s[b]), "rk": rk}
                 for rk, b in enumerate(top, 1)]
    return pa.Table.from_pylist(rows, schema=_TOPK_SCHEMA)


# -- main -------------------------------------------------------------------

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    corpus = Corpus(_PIPELINE_DOC_CAP)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(EXPECTED_DIR, f"{name}.parquet"))
        print(f"{name}: {table.num_rows} rows", flush=True)

    spans = _span_rows(corpus, _PIPELINE_DOC_CAP)
    write("ocr_extract_spans", _spans_table(spans))
    # every span-over-media gate must reproduce the raw run's spans, so
    # each one's expectation is the raw run's first-200-doc slice
    cut = f"doc-{_MEDIA_DOC_CAP:08d}"
    media_spans = _spans_table([r for r in spans if r["doc_id"] < cut])
    for name in _MEDIA_SPAN_GATES:
        write(name, media_spans)
    write("pdf_text_extract", _pdf_text_table(corpus, _MEDIA_DOC_CAP))
    write("ocr_spans_lang_hin",
          _spans_table(_span_rows(corpus, _MEDIA_DOC_CAP, langs=("hin",))))
    hier = list(_hierarchy_rows(corpus, _PIPELINE_DOC_CAP))
    write("ocr_hierarchy",
          pa.Table.from_pylist(hier, schema=_HIERARCHY_SCHEMA))
    write("ocr_layout_only", _layout_table(corpus, _PIPELINE_DOC_CAP))
    write("ocr_word_font_attrs", _font_attrs_table(hier))
    # embedded-DPI gate: TIFF re-encode with XResolution=192; pointsize
    # must follow the embedded value (metadata > table column > default)
    write("ocr_dpi_font_attrs", _font_attrs_table(
        list(_hierarchy_rows(corpus, _MEDIA_DOC_CAP, ppi=192))))
    # audio tier: single-process twin of operators.multimodal.
    # audio_features over the same deterministic clips (shared
    # codecs_wav.wav_features kernel -> bit-identical doubles)
    from org_dharts_dia_tesseract_spark.codecs_wav import wav_features
    from org_dharts_dia_tesseract_spark.datagen import audio_row_for
    refs = [f"aud-{i:08d}" for i in range(_MEDIA_DOC_CAP)]
    audio_tbl = pa.Table.from_pylist(
        [{"audio_ref": ref, **wav_features(audio_row_for(ref)["payload"])}
         for ref in refs],
        schema=pa.schema({"audio_ref": pa.string(), "n_samples": pa.int32(),
                          "channels": pa.int32(), "sample_rate": pa.int32(),
                          "duration_s": pa.float64(), "rms": pa.float64(),
                          "peak": pa.float64(),
                          "zero_crossing_rate": pa.float64()}))
    write("audio_features", audio_tbl)
    # the drop-policy gate shares the clean expectation: the gate's
    # input is the same 200 clips PLUS injected undecodable payloads,
    # run with on_error='drop' — the corrupt rows must vanish without
    # perturbing any surviving value, so "clean expectation" IS the
    # oracle for "drop exactly the corrupt rows"
    write("audio_features_drop_policy", audio_tbl)
    # video tier: single-process twin of operators.multimodal.
    # video_frame_features over the same deterministic MJPEG-in-AVI
    # clips (shared codecs_avi.avi_frame_features kernel, every 2nd
    # frame -> bit-identical doubles)
    from org_dharts_dia_tesseract_spark.codecs_avi import \
        avi_frame_features
    from org_dharts_dia_tesseract_spark.datagen import video_row_for
    refs = [f"vid-{i:08d}" for i in range(_MEDIA_DOC_CAP)]
    video_tbl = pa.Table.from_pylist(
        [{"video_ref": ref, **feats} for ref in refs
         for feats in avi_frame_features(video_row_for(ref)["payload"],
                                         every_k=2)],
        schema=pa.schema({"video_ref": pa.string(), "frame_idx": pa.int32(),
                          "n_frames": pa.int32(), "width": pa.int32(),
                          "height": pa.int32(), "fps": pa.int32(),
                          "mean_luma": pa.float64(),
                          "ink_ratio": pa.float64()}))
    write("video_frame_features", video_tbl)
    # video drop-policy gate shares the clean expectation (same
    # rationale as the audio one above)
    write("video_frame_features_drop_policy", video_tbl)
    # PQ ANN twin: same numpy kernels (similarity._pq_*_np) over the
    # same embeddings parquet; like html_main_content this expectation
    # is per-sf (trained on the sf dir's vectors; default sf0.01 = the
    # driver's gate scale)
    from org_dharts_dia_tesseract_spark.operators.similarity import (
        _as_f64, _centroid_dists, _ivfpq_encode_np, _ivfpq_train_np,
        _kmeans_np, _pq_adc_ip_np, _pq_encode_np, _pq_train_np,
        _semdedup_prune_np)
    et = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    order = np.argsort(et["vec_id"].to_numpy())
    ids = et["vec_id"].to_numpy()[order]
    X = _as_f64([et["embedding"][int(i)].as_py() for i in order])
    # this twin trains on ALL vectors; the Spark side trains on a
    # hash-spread sample capped at init_sample=8192, and the two train
    # on the same set only while the corpus fits the cap — fail loudly
    # (rather than hash-mismatch bafflingly) if a bigger sf breaks that
    assert len(X) <= 8192, (
        f"embeddings corpus ({len(X)} rows) exceeds the Spark side's "
        "init_sample=8192: the all-vector oracle twin no longer matches "
        "sample-trained PQ/IVF-PQ; regenerate at a smaller sf or raise "
        "init_sample in the gate queries")
    books = _pq_train_np(X, m=8, ks=16)
    codes = _pq_encode_np(X, books)
    write("pq_topk_adc", _topk_table(
        ids, X, lambda q: (ids, _pq_adc_ip_np(q, books, codes))))
    # composed IVF-PQ twin (probe-all): coarse + residual codebooks on
    # the same id-ordered sample; score = q.centroid + ADC(q, residual)
    C, rbooks = _ivfpq_train_np(X, n_lists=8, m=8, ks=16)
    assign, rcodes = _ivfpq_encode_np(X, C, rbooks)
    write("ivfpq_topk_probe_all", _topk_table(
        ids, X, lambda q: (ids, C[assign] @ q
                           + _pq_adc_ip_np(q, rbooks, rcodes))))

    # persisted-index twin (nprobe=2 of 8): same model as above, but
    # each query scores ONLY vectors assigned to its 2 nearest coarse
    # lists — the pruning the Spark side realizes as list_id
    # PartitionFilters over stored codes (no re-encode)
    def probe2(q: np.ndarray):
        plists = np.argsort(((C - q) ** 2).sum(axis=1), kind="stable")[:2]
        mask = np.isin(assign, plists)
        return ids[mask], (C[assign[mask]] @ q
                           + _pq_adc_ip_np(q, rbooks, rcodes[mask]))
    write("ivfpq_indexed_topk", _topk_table(ids, X, probe2))
    # SemDeDup twin: shared kernels (_kmeans_np coarse model over the
    # same id-sorted vectors = the Spark side's full-corpus-at-gate-
    # scale sample, _centroid_dists assignment, _semdedup_prune_np
    # greedy leader prune per cluster) -> kept ids hash bit-exact.
    # Per-sf like the PQ twins (same init_sample assertion above).
    C8 = _kmeans_np(X, 8, 3)
    sd_assign = _centroid_dists([list(map(float, c)) for c in C8])(
        pd.Series(list(X))).argmin(axis=1)
    kept = pa.Table.from_pylist(
        [{"vec_id": int(kid), "list_id": c} for c in range(8)
         for kid in _semdedup_prune_np(ids[sd_assign == c],
                                       X[sd_assign == c], 0.35)],
        schema=pa.schema({"vec_id": pa.int64(), "list_id": pa.int32()}))
    write("semdedup_kept", kept)
    # semdedup_indexed twin: the persisted-index path prunes the SAME
    # clustering (ivf_write_index trains kmeans_centroids with identical
    # defaults over the identical id-sorted full-corpus-at-gate-scale
    # sample), so the kept set is bit-identical to semdedup_kept's —
    # what the gate adds is the read path: assignment comes from stored
    # list_id partitions, never an assignment UDF.
    write("semdedup_indexed", kept)
    write("ocr_unlv_text", _unlv_table(hier))
    write("ocr_training_corpus", _training_table(spans))
    write("ocr_annotated_pages", _annotated_table(corpus,
                                                  _ANNOTATED_DOC_CAP))
    write("ocr_page_osd", _osd_table(corpus, _MEDIA_DOC_CAP))
    write("ocr_tiff_merge", _tiff_merge_table(corpus, _MEDIA_DOC_CAP))
    write("html_main_content", _html_main_table(sf_dir))


if __name__ == "__main__":
    main()
