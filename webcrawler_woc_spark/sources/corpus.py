"""Deterministic Common-Crawl-style ``pages`` corpus derived from the driver's
``documents`` table.

The derivation is pure string/modular arithmetic on ``doc_id`` so that:
* the Spark side builds the corpus with Catalyst expressions only (JVM-side,
  whole-stage codegen, no Python) — scale-safe to 100 TB;
* an *independent* DuckDB oracle reproduces the embedded link graph with SQL
  arithmetic (see ``ORACLE_PAGES_CTE``), giving a true end-to-end correctness
  check of the extract → canonicalize → type → policy → dedup pipeline: the
  engine must *recover by parsing HTML* exactly the links the formula embeds.

Corpus shape (BASELINE.json input_hint): pages(url, warc_ts, html, text, lang).

Derivation formulas (H = 10 hosts)::

    host_id  = doc_id % H
    page url = http://host{host_id}.example/page/{doc_id}
    out-degree L = 2 + doc_id % 5           (2..6 links)
    for k in 1..L:
        tgt  = (doc_id*7 + k*13 + 1) % N    (N = row count of documents)
        tgt2 = (tgt + 31) % N
        kind = k % 8
        tgt_rel  = tgt  - tgt  % H + host_id  (same-host target, relative kinds)
        tgt_rel2 = tgt2 - tgt2 % H + host_id
        href: 0 absolute (tgt) | 1 root-relative (tgt_rel) | 2 ../relative
              (tgt_rel) | 3 mailto | 4 tel | 5 absolute-but-dangling
              (/missing/ => fetch failure) | 6 absolute (tgt2)
              | 7 root-relative (tgt_rel2); relative kinds also dangle when
              tgt_rel >= N
    html = <html><head><title>Doc {id}</title></head><body><p>{text}</p>
           <a href="#sec"></a> {anchors} <a href="{href_1}"></a> <a></a>
           </body></html>
    text (golden extracted) = "Doc {id}\\n{text}"

Per host h: a ``/robots.txt`` page (Crawl-delay + Sitemap lines) and a
``/sitemap0.txt`` page (urls of docs h, h+H, h+2H, one per line, second line
indented to exercise trim) — both ``text/plain`` at fetch time.

Reference semantics exercised: per-page dedup (duplicate anchor,
links.rs:273), fragment drop (links.rs:296-300), relative join
(links.rs:109-118), link typing (links.rs:179-185), fetch failure on dangling
links (crawler.rs:209-216), sitemap discovery (crawler.rs:254-307).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# the fetch simulation owns the fetch-time Content-Type rule; the corpus
# generator re-exports it next to its Python twin below
from ..operators.fetch import default_content_type_expr  # noqa: F401

N_HOSTS = 10
EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z

# ---------------------------------------------------------------------------
# Spark-side derivation (Catalyst expressions only)
# ---------------------------------------------------------------------------


def _href_expr(doc_id: Column, k: Column, n_docs: int) -> Column:
    """The href embedded for out-link k of page doc_id (raw, pre-normalization)."""
    tgt = (doc_id * 7 + k * 13 + 1) % n_docs
    tgt2 = (tgt + 31) % n_docs
    kind = k % 8
    tgt_rel = (tgt - tgt % N_HOSTS + doc_id % N_HOSTS).cast("string")
    tgt_rel2 = (tgt2 - tgt2 % N_HOSTS + doc_id % N_HOSTS).cast("string")
    tgt_s = tgt.cast("string")
    tgt2_s = tgt2.cast("string")
    tgt_host = (tgt % N_HOSTS).cast("string")
    tgt2_host = (tgt2 % N_HOSTS).cast("string")
    return (
        F.when(kind == 0, F.concat(F.lit("http://host"), tgt_host, F.lit(".example/page/"), tgt_s))
        .when(kind == 1, F.concat(F.lit("/page/"), tgt_rel))
        .when(kind == 2, F.concat(F.lit("../page/"), tgt_rel))
        .when(kind == 3, F.concat(F.lit("mailto:user"), tgt_s, F.lit("@host"), tgt_host, F.lit(".example")))
        .when(kind == 4, F.concat(F.lit("tel:+1555"), F.lpad(tgt_s, 7, "0")))
        .when(kind == 5, F.concat(F.lit("http://host"), tgt_host, F.lit(".example/missing/"), tgt_s))
        .when(kind == 6, F.concat(F.lit("http://host"), tgt2_host, F.lit(".example/page/"), tgt2_s))
        .otherwise(F.concat(F.lit("/page/"), tgt_rel2))
    )


def doc_pages(documents: DataFrame, n_docs: int) -> DataFrame:
    """documents(doc_id, text, lang, ...) -> pages rows for the /page/ urls."""
    doc_id = F.col("doc_id")
    host_id = (doc_id % N_HOSTS).cast("string")
    url = F.concat(F.lit("http://host"), host_id, F.lit(".example/page/"), doc_id.cast("string"))

    ks = F.sequence(F.lit(1), (F.lit(2) + doc_id % 5).cast("int"))
    hrefs = F.transform(ks, lambda k: _href_expr(doc_id, k.cast("bigint"), n_docs))
    anchors = F.aggregate(
        hrefs,
        F.lit(""),
        lambda acc, h: F.concat(acc, F.lit('<a href="'), h, F.lit('"></a>')),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        doc_id.cast("string"),
        F.lit("</title></head><body><p>"),
        F.col("text"),
        F.lit('</p><a href="#sec"></a>'),
        anchors,
        F.lit('<a href="'),
        F.element_at(hrefs, 1),
        F.lit('"></a><a></a></body></html>'),
    )
    golden_text = F.concat(F.lit("Doc "), doc_id.cast("string"), F.lit("\n"), F.col("text"))
    warc_ts = F.timestamp_seconds(F.lit(EPOCH_2026) + (doc_id * 37) % 86400)
    return documents.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        golden_text.alias("text"),
        F.col("lang"),
    )


def robots_sitemap_pages(spark: SparkSession, n_docs: int) -> DataFrame:
    """Per-host /robots.txt and /sitemap0.txt rows (text/plain at fetch)."""
    hosts = spark.range(N_HOSTS).withColumnRenamed("id", "h")
    h = F.col("h")
    h_s = h.cast("string")
    base = F.concat(F.lit("http://host"), h_s, F.lit(".example"))

    def page_url(i: Column) -> Column:
        return F.concat(
            F.lit("http://host"), (i % N_HOSTS).cast("string"), F.lit(".example/page/"), i.cast("string")
        )

    robots_body = F.concat(
        F.lit("User-agent: *\nDisallow: /private"),
        h_s,
        F.lit("\nCrawl-delay: "),
        (F.lit(1) + h % 3).cast("string"),
        F.lit("\nSitemap: "),
        base,
        F.lit("/sitemap0.txt\n"),
    )
    sitemap_body = F.concat(
        page_url(h),
        F.lit("\n  "),
        page_url(h + N_HOSTS),
        F.lit("\n"),
        page_url(h + 2 * N_HOSTS),
        F.lit("\n"),
    )
    robots = hosts.select(
        F.concat(base, F.lit("/robots.txt")).alias("url"),
        F.timestamp_seconds(F.lit(EPOCH_2026) + h).alias("warc_ts"),
        F.encode(robots_body, "utf-8").alias("html"),
        robots_body.alias("text"),
        F.lit("en").alias("lang"),
    )
    sitemaps = hosts.select(
        F.concat(base, F.lit("/sitemap0.txt")).alias("url"),
        F.timestamp_seconds(F.lit(EPOCH_2026) + 100 + h).alias("warc_ts"),
        F.encode(sitemap_body, "utf-8").alias("html"),
        sitemap_body.alias("text"),
        F.lit("en").alias("lang"),
    )
    return robots.unionByName(sitemaps)


def pages_from_documents(spark: SparkSession, sf_dir: str, n_docs: int | None = None) -> DataFrame:
    """Full derived corpus: doc pages + robots + sitemaps."""
    from webcrawler_woc_spark.session import spread_scan

    # spread_scan BEFORE the html derivation: a single-row-group documents
    # file otherwise serializes html synthesis + every downstream extraction
    # kernel onto one core (no-op for naturally-split inputs)
    documents = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    if n_docs is None:
        n_docs = documents.count()
    return doc_pages(documents, n_docs).unionByName(robots_sitemap_pages(spark, n_docs))


def default_content_type_py(url: str) -> str:
    """Python twin of default_content_type_expr (oracle side)."""
    import re

    if url.endswith(".txt"):
        return "text/plain"
    m = re.search(r"/page/(\d+)$", url)
    if m:
        d = int(m.group(1)) % 100
        if d < 5:
            return "text/html; charset=utf-8"
        if d < 7:
            return "text/html; charset=iso-8859-1"
    return "text/html"


# ---------------------------------------------------------------------------
# Python twin (oracle / tests)
# ---------------------------------------------------------------------------


def py_doc_page(doc_id: int, text: str, lang: str, n_docs: int) -> dict:
    """Pure-Python twin of doc_pages for a single document row."""
    host_id = doc_id % N_HOSTS
    url = f"http://host{host_id}.example/page/{doc_id}"
    hrefs = []
    for k in range(1, 3 + doc_id % 5):
        tgt = (doc_id * 7 + k * 13 + 1) % n_docs
        tgt2 = (tgt + 31) % n_docs
        kind = k % 8
        tgt_rel = tgt - tgt % N_HOSTS + doc_id % N_HOSTS
        tgt_rel2 = tgt2 - tgt2 % N_HOSTS + doc_id % N_HOSTS
        tgt_host = tgt % N_HOSTS
        if kind == 0:
            hrefs.append(f"http://host{tgt_host}.example/page/{tgt}")
        elif kind == 1:
            hrefs.append(f"/page/{tgt_rel}")
        elif kind == 2:
            hrefs.append(f"../page/{tgt_rel}")
        elif kind == 3:
            hrefs.append(f"mailto:user{tgt}@host{tgt_host}.example")
        elif kind == 4:
            hrefs.append(f"tel:+1555{tgt:07d}")
        elif kind == 5:
            hrefs.append(f"http://host{tgt_host}.example/missing/{tgt}")
        elif kind == 6:
            hrefs.append(f"http://host{tgt2 % N_HOSTS}.example/page/{tgt2}")
        else:
            hrefs.append(f"/page/{tgt_rel2}")
    anchors = "".join(f'<a href="{h}"></a>' for h in hrefs)
    html = (
        f"<html><head><title>Doc {doc_id}</title></head><body><p>{text}</p>"
        f'<a href="#sec"></a>{anchors}<a href="{hrefs[0]}"></a><a></a></body></html>'
    )
    return {
        "url": url,
        "warc_ts": EPOCH_2026 + (doc_id * 37) % 86400,
        "html": html.encode("utf-8"),
        "text": f"Doc {doc_id}\n{text}",
        "lang": lang,
    }


def py_robots_sitemap_pages(n_docs: int) -> list[dict]:
    out = []
    for h in range(N_HOSTS):
        base = f"http://host{h}.example"
        robots = (
            f"User-agent: *\nDisallow: /private{h}\nCrawl-delay: {1 + h % 3}\n"
            f"Sitemap: {base}/sitemap0.txt\n"
        )
        def pu(i: int) -> str:
            return f"http://host{i % N_HOSTS}.example/page/{i}"
        sitemap = f"{pu(h)}\n  {pu(h + N_HOSTS)}\n{pu(h + 2 * N_HOSTS)}\n"
        out.append(
            {"url": f"{base}/robots.txt", "warc_ts": EPOCH_2026 + h,
             "html": robots.encode(), "text": robots, "lang": "en"}
        )
        out.append(
            {"url": f"{base}/sitemap0.txt", "warc_ts": EPOCH_2026 + 100 + h,
             "html": sitemap.encode(), "text": sitemap, "lang": "en"}
        )
    return out


# ---------------------------------------------------------------------------
# DuckDB oracle CTE — independent SQL reproduction of the embedded link graph
# ---------------------------------------------------------------------------

# Canonical out-links per page (post extract+canonicalize+per-page-dedup).
# kinds 1 and 2 both canonicalize to same-host /page/{tgt}; the duplicate
# anchor adds no new URL. DISTINCT == the reference's per-page HashSet.
ORACLE_OUTLINKS_CTE = """
nn AS (SELECT count(*) AS n_docs FROM documents),
raw_links AS (
    SELECT doc_id, tgt, (tgt + 31) % n_docs AS tgt2,
           tgt - tgt % 10 + doc_id % 10 AS tgt_rel,
           (tgt + 31) % n_docs - (tgt + 31) % n_docs % 10 + doc_id % 10 AS tgt_rel2,
           kind
    FROM (
        SELECT d.doc_id, nn.n_docs,
               (d.doc_id * 7 + t.k * 13 + 1) % nn.n_docs AS tgt,
               t.k % 8 AS kind
        FROM documents d, nn, range(1, 7) t(k)
        WHERE t.k <= 2 + d.doc_id % 5
    )
),
outlinks AS (
    SELECT DISTINCT doc_id,
        CASE kind
            WHEN 0 THEN 'http://host' || (tgt % 10) || '.example/page/' || tgt
            WHEN 1 THEN 'http://host' || (doc_id % 10) || '.example/page/' || tgt_rel
            WHEN 2 THEN 'http://host' || (doc_id % 10) || '.example/page/' || tgt_rel
            WHEN 3 THEN 'mailto:user' || tgt || '@host' || (tgt % 10) || '.example'
            WHEN 4 THEN 'tel:+1555' || lpad(CAST(tgt AS VARCHAR), 7, '0')
            WHEN 5 THEN 'http://host' || (tgt % 10) || '.example/missing/' || tgt
            WHEN 6 THEN 'http://host' || (tgt2 % 10) || '.example/page/' || tgt2
            ELSE 'http://host' || (doc_id % 10) || '.example/page/' || tgt_rel2
        END AS url,
        CASE kind WHEN 3 THEN 'Mail' WHEN 4 THEN 'PhoneNo' ELSE 'Other' END AS link_type,
        CASE WHEN kind IN (3, 4) THEN NULL
             WHEN kind = 0 THEN 'host' || (tgt % 10) || '.example'
             WHEN kind = 5 THEN 'host' || (tgt % 10) || '.example'
             WHEN kind = 6 THEN 'host' || (tgt2 % 10) || '.example'
             ELSE 'host' || (doc_id % 10) || '.example'
        END AS host
    FROM raw_links
),
page_urls AS (
    SELECT doc_id,
           'http://host' || (doc_id % 10) || '.example/page/' || doc_id AS url,
           'host' || (doc_id % 10) || '.example' AS host,
           CASE WHEN doc_id % 100 < 5 THEN 'text/html; charset=utf-8'
                WHEN doc_id % 100 BETWEEN 5 AND 6 THEN 'text/html; charset=iso-8859-1'
                ELSE 'text/html' END AS content_type
    FROM documents
),
extractable AS (
    SELECT * FROM page_urls
    WHERE content_type IN ('text/html', 'text/html; charset=utf-8')
)
"""
