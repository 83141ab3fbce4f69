"""corpus_refine: the training-data half of the engine, which uses none of
the crawl layers.

Setup generates a `documents` table of the test-data shape (doc_id, text,
lang, source, n_chars: 31-word vocabulary, 10-100 words per document,
5% near-duplicates that repeat an earlier text plus one word, 0.2% exact
copies, 20 round-robin sources) from the seed, builds the WARC archive
`warc.write_archive_fixtures` makes from it, and computes every step's
answer with the step's DuckDB twin from `registry.oracle_sql()`.

One operation is the whole chain: ingest the archive through
`htmlspans.warc_to_documents` into a parquet table under the work
directory, extract links from that table, then run the registry's exact,
MinHash-LSH, line and substring dedup, language-ID, quality-model,
token-count and packing steps over the documents. Every step's output
must hash-match its twin. The seed varies the documents' words, labels
and duplicate pairs; it does not vary the document count, the length
distribution or the duplicate shares.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import WORK, dir_bytes, fresh_dir, median, median_wall

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch dup").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

# resume probes: untimed warm-up scans, then the timed ones
RESUME_WARMUP, RESUME_REPS = 5, 15
# (registry query, span name); run in this order after ingest
REFINE_STEPS = (
    ("dedup_exact", "dedup.exact"),
    ("dedup_minhash_lsh", "dedup.minhash_lsh"),
    ("dedup_lines", "dedup.lines"),
    ("dedup_substring_spans", "dedup.substring_spans"),
    ("lang_id", "textops.lang_id"),
    ("quality_model", "textops.quality_model"),
    ("token_count", "textops.token_count"),
    ("pack_chunks", "textops.pack_chunks"),
)


def make_documents(path: str, n: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i >= 20 and u < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i >= 20 and u < 0.052:
            texts.append(texts[int(rng.integers(i))])
        else:
            words = rng.choice(VOCAB[:-1], size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def _cell(v) -> str:
    """Type-independent text form of one value: an integral float and an
    int read the same (Spark and DuckDB may pick different numeric types
    for one column); other floats keep every digit; null is one token."""
    if v is None or v is pd.NA:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in list(v)) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in
                              sorted(v.items())) + "}"
    return str(v)


def result_hash(pdf) -> str:
    """Order-independent hash of a result table: columns by name, rows
    sorted by their text form."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in zip(*(pdf[c].tolist() for c in cols)))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


def _spans_view(docs):
    """Ingested documents exploded to the html_to_spans twin's columns."""
    from pyspark.sql import functions as F
    return (docs
            .select(F.regexp_extract("page_url", r"/(\d+)\.html$", 1)
                    .cast("bigint").alias("doc_id"),
                    F.explode("spans").alias("sp"))
            .select("doc_id",
                    F.col("sp.offset").cast("bigint").alias("offset"),
                    F.col("sp.kind").alias("kind"),
                    F.col("sp.text").alias("text"),
                    F.col("sp.media_ref").alias("media_ref")))


class CorpusRefine:
    name = "corpus_refine"
    unit_name = "refine step"
    sizes = {"full": {"n_docs": 1000}, "tiny": {"n_docs": 60}}
    # ingest, link extraction, then the registry steps
    units_per_op = 2 + len(REFINE_STEPS)

    def __init__(self, spark, seed: int, scale: str, harness):
        self.spark = spark
        self.seed = seed
        self.n = self.sizes[scale]["n_docs"]
        self.h = harness
        self.dir = os.path.join(WORK, self.name, scale)

    def build(self) -> None:
        """The documents table and the WARC archive built from it."""
        from ccspark.warc import write_archive_fixtures
        self.sf = fresh_dir(os.path.join(self.dir, "sf"))
        make_documents(os.path.join(self.sf, "documents.parquet"),
                       self.n, self.seed)
        self.archive = write_archive_fixtures(
            self.sf, fresh_dir(os.path.join(self.dir, "archive")))["htmlwarc"]

    def answers(self) -> None:
        """Every step's answer from its DuckDB twin."""
        import duckdb
        from ccspark.htmlspans import SQL_HTML_TO_SPANS
        from ccspark.registry import oracle_sql
        sqls = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.sf}/documents.parquet')")
            self.want = {q: result_hash(con.sql(sqls[q]).df())
                         for q, _ in REFINE_STEPS}
            self.want["ingest"] = result_hash(con.sql(SQL_HTML_TO_SPANS).df())
            self.want["links"] = result_hash(con.sql(
                "SELECT media_ref AS url_raw, kind, 'http://docs.example.com/'"
                " || doc_id || '.html' AS page_url"
                f" FROM ({SQL_HTML_TO_SPANS}) WHERE kind <> 'text'").df())
        finally:
            con.close()

    def op(self) -> dict:
        from ccspark.extract import extract_links
        from ccspark.htmlspans import warc_to_documents
        from ccspark.registry import ALL
        out = fresh_dir(os.path.join(self.dir, "out"))
        docs_path = os.path.join(out, "documents")
        results = {}
        with self.h.unit("refine.chain", "chain") as rec:
            with self.h.span("htmlspans.warc_to_documents"):
                (warc_to_documents(self.spark, self.archive)
                 .write.mode("overwrite").parquet(docs_path))
            with self.h.span("extract.extract_links"):
                results["links"] = (
                    extract_links(self.spark.read.parquet(docs_path))
                    .select("url_raw", "kind", "page_url").toPandas())
            for q, span in REFINE_STEPS:
                with self.h.span(span):
                    results[q] = ALL[q][0](self.spark, self.sf).toPandas()
        res = {"units": [rec], "state_bytes": dir_bytes(out),
               "links": len(results["links"])}

        reopened = self.spark.read.parquet(docs_path)
        res["resume_s"] = median_wall(
            lambda: (self.spark.read.parquet(docs_path)
                     .write.format("noop").mode("overwrite").save()),
            RESUME_REPS, RESUME_WARMUP)

        # gates, outside the timed chain
        res["pages"] = reopened.count()
        got = {k: result_hash(pdf) for k, pdf in results.items()}
        got["ingest"] = result_hash(_spans_view(reopened).toPandas())
        res["problems"] = [(k, f"{got[k]} != twin {self.want[k]}")
                           for k in self.want if got[k] != self.want[k]]
        res["attempted"] = self.units_per_op
        res["failed"] = len(res["problems"])
        return res

    def layer_counts(self, ops: list[dict], spans: list[dict]) -> dict:
        pages = sum(o["pages"] for o in ops)
        return {"extract.links_per_page":
                sum(o["links"] for o in ops) / pages if pages else 0.0}

    def end_to_end(self, ops: list[dict]) -> dict:
        walls = [o["units"][0]["wall_s"] for o in ops]
        return {
            "throughput_per_s": self.n * len(ops) / sum(walls),
            "op_s_p50": median(walls),
            "resume_s": median(o["resume_s"] for o in ops),
            "state_bytes_per_unit": median(o["state_bytes"] / self.n
                                           for o in ops),
        }
