"""The benchmark's pages corpus: synthetic documents -> derived pages parquet.

The documents table has the shape and the measured statistics of the
engine's ``documents`` input at scale factor 0.1 (the figures below; the
README records how they were taken): 5000 documents whose word counts follow
the recorded deciles, words drawn uniformly from the same 30-word
vocabulary, the same language shares, and the same share of near-duplicates
(another document's text with `` dup`` appended). It is generated from a
fixed generator seed, so every run and every checkout sees the same corpus.
The pages corpus is derived from it with ``sources.corpus.doc_pages`` +
``robots_sitemap_pages``, after replicating the documents ``MULT`` times
over disjoint doc-id ranges (the scheme of the legacy ``bench.build_corpus``).

Both files are written once into the work directory and rebuilt only when
missing. The workload seed never touches the corpus; it only picks seed URLs.
"""

from __future__ import annotations

import os
import time

import numpy as np

# measured on the scale-factor-0.1 documents table
BASE_DOCS = 5000
WORDS_PER_DOC_DECILES = (10, 19, 28, 37, 45, 54, 63, 72, 80, 90, 99)  # before the dup marker
DUP_SHARE = 0.05
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4118, 0.1506, 0.1488, 0.1484, 0.1404)
N_SOURCES = 20

MULT = 10
CORPUS_SEED = 20260101

# package sources the crawl oracle's results depend on (its cache key)
ORACLE_SOURCES = (
    "sources/corpus.py",
    "functions/html.py",
    "functions/urlnorm.py",
    "oracle/pyoracle.py",
)


def n_docs() -> int:
    return BASE_DOCS * MULT


def generator_key() -> str:
    """Digest of the generator parameters: the key of the committed expected
    outputs, which change only when the corpus does."""
    import hashlib
    import json

    params = [BASE_DOCS, WORDS_PER_DOC_DECILES, DUP_SHARE, WORDS, LANGS, LANG_P, N_SOURCES,
              MULT, CORPUS_SEED]
    return hashlib.sha256(json.dumps(params).encode()).hexdigest()[:16]


def fingerprint() -> list:
    """Everything the crawl oracle's results depend on (cache key): the
    corpus and the relevant package sources."""
    import hashlib

    import webcrawler_woc_spark

    root = os.path.dirname(webcrawler_woc_spark.__file__)
    h = hashlib.sha256()
    for rel in ORACLE_SOURCES:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return [generator_key(), h.hexdigest()]


def pages_path(work: str) -> str:
    return os.path.join(work, f"pages-{generator_key()}")


def document_texts(rng) -> list[str]:
    """Word counts drawn by inverse CDF from the recorded deciles; then
    ``DUP_SHARE`` of the documents, in doc-id order, become a copy of another
    document's text plus `` dup``."""
    u = rng.random(BASE_DOCS)
    lengths = np.rint(np.interp(u, np.linspace(0, 1, 11), WORDS_PER_DOC_DECILES)).astype(int)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, off = [], 0
    for n in lengths:
        texts.append(" ".join(WORDS[i] for i in word_ids[off : off + n]))
        off += n
    dups = np.sort(rng.choice(BASE_DOCS, int(BASE_DOCS * DUP_SHARE), replace=False))
    for i in dups:
        j = int(rng.integers(BASE_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def write_documents(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(CORPUS_SEED)
    texts = document_texts(rng)
    table = pa.table(
        {
            "doc_id": np.arange(BASE_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, BASE_DOCS, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(BASE_DOCS)],
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def build_pages(spark, documents_path: str, out_path: str) -> None:
    """documents x MULT -> derived pages parquet (url, warc_ts, html, text, lang)."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.sources.corpus import doc_pages, robots_sitemap_pages

    documents = spark.read.parquet(documents_path)
    documents = (
        documents.crossJoin(spark.range(MULT).withColumnRenamed("id", "rep"))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * BASE_DOCS)
        .drop("rep")
    )
    n = n_docs()
    pages = doc_pages(documents, n).unionByName(robots_sitemap_pages(spark, n))
    pages.repartition(max(8, n // 4000)).write.mode("overwrite").parquet(out_path)


def ensure_corpus(spark, work: str) -> dict:
    """Build the documents and pages files if missing; returns the per-layer
    ``sources.corpus`` numbers (build time is 0 when both already existed)."""
    docs = os.path.join(work, f"documents-{generator_key()}.parquet")
    pages = pages_path(work)
    t0 = time.perf_counter()
    if not os.path.exists(docs):
        write_documents(docs)
    if not os.path.exists(os.path.join(pages, "_SUCCESS")):
        build_pages(spark, docs, pages)
    build_s = time.perf_counter() - t0
    import pyarrow.parquet as pq

    files = [os.path.join(pages, f) for f in os.listdir(pages) if f.endswith(".parquet")]
    return {
        "path": pages,
        "build_s": build_s,
        "bytes": sum(os.path.getsize(f) for f in files),
        "pages": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
    }


def _kernel_chunk(rows: list[tuple[str, bytes]]) -> list[tuple[str, list[str]]]:
    from webcrawler_woc_spark.functions.html import extract_links

    return [(url, extract_links(html.decode("utf-8", "replace"), url)) for url, html in rows]


def kernel_table_path(work: str) -> str:
    import hashlib
    import json

    key = hashlib.sha256(json.dumps(fingerprint()).encode()).hexdigest()[:16]
    return os.path.join(work, f"kernels-{key}.parquet")


def kernel_table(work: str, workers: int) -> dict[str, list[str]]:
    """url -> ``extract_links`` of every HTML page, computed once per corpus
    and package version with the package's Python kernel in ``workers``
    processes and cached in the work directory. The crawl oracle looks links
    up here, after ``check.verify_kernel_table`` has matched the table with
    the committed expected links."""
    import multiprocessing

    import pyarrow as pa
    import pyarrow.parquet as pq

    from webcrawler_woc_spark.oracle.pyoracle import HTML_MIMES
    from webcrawler_woc_spark.sources.corpus import default_content_type_py

    path = kernel_table_path(work)
    if not os.path.exists(path):
        rows = [
            (u, h) for u, (h, _) in load_pages_dict(pages_path(work)).items()
            if default_content_type_py(u) in HTML_MIMES
        ]
        chunks = [rows[i : i + 2000] for i in range(0, len(rows), 2000)]
        with multiprocessing.get_context("spawn").Pool(workers) as pool:
            done = [r for part in pool.map(_kernel_chunk, chunks) for r in part]
        table = pa.table({"url": [r[0] for r in done], "links": [r[1] for r in done]})
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    t = pq.read_table(path)
    return dict(zip(t.column("url").to_pylist(), t.column("links").to_pylist()))


def load_pages_dict(pages_path: str) -> dict[str, tuple[bytes, str]]:
    """url -> (html bytes, corpus text): the oracle's input and the expected
    extracted text."""
    import pyarrow.parquet as pq

    t = pq.read_table(pages_path, columns=["url", "html", "text"])
    bodies = zip(t.column("html").to_pylist(), t.column("text").to_pylist())
    return dict(zip(t.column("url").to_pylist(), bodies))
