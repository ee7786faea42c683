"""The benchmark's workloads: inputs, timed actions and output checks.

A workload is a list of actions. Each action builds a DataFrame through
the program's public API; the benchmark either materializes it fully with
`write.format("noop")` (timed passes) or collects it and checks it against
a single-process oracle (checked passes). Oracle digests are cached by
workload, seed, input size and a hash of the code that produced them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import time

from . import inputs

CURATION_QUERIES = (
    "dedup_exact", "minhash_lsh_pairs", "bloom_novel_docs",
    "stratified_sample_docs", "ivf_topk_probe_all",
)

# The timed flagship plan must keep the Python stage, the per-document
# hash exchange and the seq window; a plan without them does less work.
SPANS_PLAN_PINS = {
    "MapInPandas": re.compile(r"\bMapInPandas\b"),
    "doc_id hash exchange": re.compile(
        r"Exchange hashpartitioning\(doc_id#"),
    "Window": re.compile(r"\bWindow \["),
}


def code_hash(root: str) -> str:
    """Hash of the program package and the benchmark sources."""
    h = hashlib.sha256()
    for top in ("org_dharts_dia_tesseract_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _cached(path: str, compute):
    """(value, was_cached): JSON value at path, computed once."""
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f), True
    value = compute()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value, False


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def _span_key(doc_id, seq, kind, text, media_ref) -> tuple:
    return (str(doc_id), int(seq), str(kind),
            None if text is None else str(text),
            None if media_ref is None else str(media_ref))


def plan_text(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


class Workload:
    """Shared input/oracle preparation; subclasses name the inputs
    (`write`), the oracle (`_oracle`) and the actions."""

    name = ""

    def __init__(self, seed: int, data_dir: str, cache_dir: str, code: str):
        self.seed, self.data_dir = seed, data_dir
        self.cache_dir, self.code = cache_dir, code

    def write(self) -> dict:
        raise NotImplementedError

    def prepare(self) -> dict:
        """Write the inputs, then compute or load the oracle digests."""
        t = time.perf_counter()
        self.inp = self.write()
        self.sizes = self.inp["sizes"]
        input_s = time.perf_counter() - t
        tag = "-".join(f"{k}{v}" for k, v in self.sizes.items()
                       if isinstance(v, int))
        path = os.path.join(
            self.cache_dir,
            f"{self.name}-seed{self.seed}-{tag}-{self.code}.json")
        t = time.perf_counter()
        self.expected, cached = _cached(path, self._oracle)
        return {"input_s": input_s, "oracle_s": time.perf_counter() - t,
                "oracle_cached": cached}

    @property
    def docs(self) -> int:
        return self.sizes["docs"]

    def plan_problems(self, spark) -> list[str]:
        """Ways the timed plan has lost work it must do; none by default."""
        return []


class SpansRaw(Workload):
    """extract_spans(on_error='dead-letter') over raw uint8 pages."""

    name = "spans_raw"

    def write(self) -> dict:
        return inputs.write_spans(self.seed, self.data_dir)

    def _oracle(self) -> dict:
        from org_dharts_dia_tesseract_spark.oracle.page import document_spans
        by_ref = {m["media_ref"]: m for m in self.inp["media_rows"]}
        rows = []
        for doc in self.inp["docs"]:
            for r in document_spans(doc, by_ref.__getitem__):
                rows.append(_span_key(r["doc_id"], r["seq"], r["kind"],
                                      r["text"], r["media_ref"]))
        rows.sort(key=lambda r: (r[0], r[1]))
        return {"rows": len(rows), "digest": _digest(rows)}

    @property
    def media_rows(self) -> list[dict]:
        return self.inp["media_rows"]

    def units(self) -> int:
        """Operations one action attempts: one per page."""
        return self.sizes["pages"]

    def actions(self):
        """[(name, build(spark) -> DataFrame)]"""
        def build(spark):
            from org_dharts_dia_tesseract_spark.operators.extract import \
                extract_spans
            return extract_spans(spark.read.parquet(self.inp["documents"]),
                                 spark.read.parquet(self.inp["media"]),
                                 on_error="dead-letter")
        return [("extract_spans", build)]

    def scan_actions(self):
        return [("scan.documents",
                 lambda spark: spark.read.parquet(self.inp["documents"])),
                ("scan.media",
                 lambda spark: spark.read.parquet(self.inp["media"]))]

    def plan_problems(self, spark) -> list[str]:
        text = plan_text(self.actions()[0][1](spark))
        return [f"timed plan lost its {what}"
                for what, pat in SPANS_PLAN_PINS.items()
                if not pat.search(text)]

    def check(self, action: str, pdf) -> tuple[bool, int]:
        """(output equals the oracle, dead-lettered pages)."""
        rows = sorted((_span_key(*t) for t in pdf[
            ["doc_id", "seq", "kind", "text", "media_ref"]]
            .itertuples(index=False, name=None)),
            key=lambda r: (r[0], r[1]))
        dead = sum(r[2] == "error" for r in rows)
        ok = len(rows) == self.expected["rows"] \
            and _digest(rows) == self.expected["digest"]
        return ok, dead


def _canon_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if hasattr(v, "item"):          # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def canon_frame(pdf) -> str:
    """Order-insensitive digest of a result frame: sorted column names,
    rows of canonical strings (floats to 6 significant digits), sorted."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_canon_value(v) for v in t)
                  for t in pdf[cols].itertuples(index=False, name=None))
    return _digest([tuple(cols)] + rows)


class CurationText(Workload):
    """Five curation queries in order over seeded text and vector
    tables; checked against the program's DuckDB oracle SQL."""

    name = "curation_text"

    def write(self) -> dict:
        return inputs.write_curation(self.seed, self.data_dir)

    def _oracle(self) -> dict:
        import duckdb

        from org_dharts_dia_tesseract_spark.queries import duckdb_oracles
        sql = duckdb_oracles()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.inp["sf_dir"], f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            return {q: canon_frame(con.execute(sql[q]).df())
                    for q in CURATION_QUERIES}
        finally:
            con.close()

    def units(self) -> int:
        """Operations one action attempts: the query itself."""
        return 1

    def actions(self):
        from org_dharts_dia_tesseract_spark.queries import spark_queries
        fns = spark_queries()
        sf_dir = self.inp["sf_dir"]
        return [(q, (lambda spark, fn=fns[q]: fn(spark, sf_dir)))
                for q in CURATION_QUERIES]

    def scan_actions(self):
        return [(f"scan.{t}", (lambda spark, t=t: spark.read.parquet(
            os.path.join(self.inp["sf_dir"], f"{t}.parquet"))))
            for t in ("documents", "embeddings")]

    def check(self, action: str, pdf) -> tuple[bool, int]:
        return canon_frame(pdf) == self.expected[action], 0


WORKLOADS = {w.name: w for w in (SpansRaw, CurationText)}
