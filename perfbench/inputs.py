"""Seeded benchmark inputs, written as parquet for the program to read.

The program sees only these files. The seed picks which documents go in;
the composition (document count, page count, skew-tail share) is fixed, so
two seeds give different pages of the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# spans_raw: 1% skew-tail documents (32-128 image spans each), as in the
# program's corpus generator; the page total is pinned.
SPANS_DOCS = 400
SPANS_SKEW_DOCS = 4
SPANS_PAGES = 668
SPANS_SKEW_PAGES = 312          # about: the normal documents make up the rest
SPANS_MEDIA_FILES = 16

# curation_text: the layout and statistics of the `documents` and
# `embeddings` test tables at sf0.1 (generator seed 42), as measured from
# them (perfbench/README.md, "Curation inputs"): documents of 10-99 words
# drawn uniformly from a 30-word vocabulary; 5% of them replaced by another
# document's text plus the word "dup" (two such copies of the same
# document are exact duplicates); languages 40% en and 15% each zh, es,
# fr, de; source src<doc_id mod 20>; 64-d unit vectors in 10 labels, each
# with cosine about 0.07 to its label's sample mean direction. sf0.1 has
# 5000 documents and 2000 vectors; fewer keep a run within the time budget.
CURATION_DOCS = 2000
CURATION_VECTORS = 800
CURATION_DIM = 64
CURATION_WORDS = (10, 100)          # [low, high) words per document
CURATION_NEAR_DUP_FRAC = 0.05
CURATION_LABELS = 10
CURATION_CLUSTER_COS = 0.03
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])
_MEDIA_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("width", pa.int32()),
    ("height", pa.int32()), ("bands", pa.int32()), ("dpi", pa.int32()),
    ("payload", pa.binary()),
])


def _pick(candidates, n_docs: int, n_pages: int, slack: int,
          exact: bool) -> list:
    """First n_docs (doc_id, spans) whose running page total stays within
    `slack` of the even share of n_pages; with `exact`, it never passes
    n_pages and ends exactly on it."""
    out, pages = [], 0
    for doc_id, spans in candidates:
        p = sum(s["kind"] == "image" for s in spans)
        k = len(out) + 1
        share = n_pages * k / n_docs
        if exact and k == n_docs:
            ok = pages + p == n_pages
        elif exact:
            ok = share - slack <= pages + p <= min(share + slack, n_pages)
        else:
            ok = abs(pages + p - share) <= slack
        if ok:
            out.append((doc_id, spans))
            pages += p
            if k == n_docs:
                return out
    raise RuntimeError("candidate stream ended before the target was met")


def _pages(docs) -> int:
    return sum(s["kind"] == "image" for _d, spans in docs for s in spans)


def spans_documents(seed: int) -> list[tuple[str, list[dict]]]:
    """Seeded document set: doc ids run from a seed-picked start; skew-tail
    and normal documents are taken in id order so that the page total is
    exactly SPANS_PAGES."""
    from org_dharts_dia_tesseract_spark.datagen import doc_spans_for
    start = int(np.random.default_rng(seed).integers(0, 90_000_000))

    def stream(skew: bool):
        i = start
        while i < 100_000_000:
            doc_id = f"doc-{i:08d}"
            spans = doc_spans_for(doc_id)
            if (len(spans) > 8) == skew:
                yield doc_id, spans
            i += 1

    skew = _pick(stream(True), SPANS_SKEW_DOCS, SPANS_SKEW_PAGES, 24,
                 exact=False)
    normal = _pick(stream(False), SPANS_DOCS - SPANS_SKEW_DOCS,
                   SPANS_PAGES - _pages(skew), 3, exact=True)
    return sorted(normal + skew)


def write_spans(seed: int, out_dir: str) -> dict:
    """Write documents.parquet and media/ for the seed; return the paths,
    the in-memory rows for the oracle and the input sizes."""
    from org_dharts_dia_tesseract_spark.datagen import media_row_for
    docs = spans_documents(seed)
    media = [media_row_for(s["media_ref"]) for _d, spans in docs
             for s in spans if s["kind"] == "image"]
    media.sort(key=lambda m: m["media_ref"])
    docs_path = os.path.join(out_dir, "documents.parquet")
    media_dir = os.path.join(out_dir, "media")
    os.makedirs(media_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in docs], _DOC_SCHEMA),
        docs_path, compression="zstd")
    # files rolled by size, as a size-capped writer would leave them: each
    # page (in media_ref order) goes to the file with the fewest bytes
    shards: list[list[dict]] = [[] for _ in range(SPANS_MEDIA_FILES)]
    sizes = [0] * SPANS_MEDIA_FILES
    for m in media:
        i = sizes.index(min(sizes))
        shards[i].append(m)
        sizes[i] += len(m["payload"])
    for i, rows in enumerate(shards):
        pq.write_table(pa.Table.from_pylist(rows, _MEDIA_SCHEMA),
                       os.path.join(media_dir, f"part-{i:03d}.parquet"),
                       compression="zstd")
    return {
        "documents": docs_path, "media": media_dir,
        "docs": [{"doc_id": d, "spans": s} for d, s in docs],
        "media_rows": media,
        "sizes": {"docs": len(docs), "pages": len(media),
                  "payload_bytes": sum(len(m["payload"]) for m in media),
                  "codec_mix": {"raw": len(media)}},
    }


def write_curation(seed: int, out_dir: str) -> dict:
    """Write documents.parquet and embeddings.parquet for the seed, with
    the statistics listed above CURATION_DOCS."""
    rng = np.random.default_rng(seed)
    n = CURATION_DOCS
    lengths = rng.integers(*CURATION_WORDS, n)
    texts = [" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k))
             for k in lengths]
    # near duplicates, in position order, each copying the text another
    # position holds at that moment (so a copy of a copy can occur)
    for i in np.sort(rng.choice(n, int(n * CURATION_NEAR_DUP_FRAC),
                                replace=False)):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    # noise of norm about 1 plus a pull s toward a unit label direction,
    # so that the cosine to that direction is about s / sqrt(1 + s^2)
    # (0.03; measured against the label's sample mean it reads 0.07)
    directions = rng.normal(0.0, 1.0, (CURATION_LABELS, CURATION_DIM))
    directions /= np.linalg.norm(directions, axis=1, keepdims=True)
    labels = rng.integers(0, CURATION_LABELS, CURATION_VECTORS) \
        .astype(np.int32)
    pull = CURATION_CLUSTER_COS / np.sqrt(1.0 - CURATION_CLUSTER_COS ** 2)
    vec = rng.normal(0.0, 1.0 / np.sqrt(CURATION_DIM),
                     (CURATION_VECTORS, CURATION_DIM)) \
        + pull * directions[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)) \
        .astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(CURATION_VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {
        "sf_dir": out_dir,
        "sizes": {"docs": n, "vectors": CURATION_VECTORS,
                  "text_bytes": int(docs["text"].str.len().sum()),
                  "embedding_bytes": int(vec.nbytes)},
    }
