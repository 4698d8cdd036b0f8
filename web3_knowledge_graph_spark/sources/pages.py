"""Deterministic Common-Crawl-style page corpus synthesized from the driver's
``documents`` table.

BASELINE.json's input_hint mandates an input table of shape
``pages(url, warc_ts, html, text, lang)``; the driver testdata carries a
``documents(doc_id, text, lang, source, n_chars)`` table instead. This module
derives pages from documents with ONE SQL text (``PAGES_SQL``) that parses
and evaluates identically in Spark SQL and DuckDB — so every driver query and
its DuckDB oracle operate on byte-identical inputs. Entities are embedded
with small moduli so they repeat across pages (wallet ~n/97 pages, ENS ~n/53,
handle ~n/41), giving the linking/canonicalization stages real shared keys —
the web-scale analog of one wallet appearing across many crawled pages.

Reference analog: the synthetic corpus plays the role of the Arweave/Mirror
article bodies the reference scrapes (/root/reference/pipelines/scraping/
mirror/scrape.py:156-186); the "Author wallet:" marker mirrors Mirror's
contributor field (scrape.py:129 ``tx["contributor"]``).

Only functions present in BOTH dialects may appear in PAGES_SQL:
``||``, CAST(.. AS STRING), md5, substr, CASE WHEN, %.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WALLET_MOD = 97
ENS_MOD = 53
HANDLE_MOD = 41
TWITTER_MOD = 11
SITE_MOD = 20

# One SQL text, two engines. ``documents`` must be resolvable as a table/view.
PAGES_SQL = f"""
SELECT
  doc_id,
  'https://site' || CAST(doc_id % {SITE_MOD} AS STRING) || '.example/p/'
      || CAST(doc_id AS STRING) AS url,
  lang,
  source,
  text || ' Author wallet: 0x'
      || md5('w' || CAST(doc_id % {WALLET_MOD} AS STRING))
      || substr(md5('wx' || CAST(doc_id % {WALLET_MOD} AS STRING)), 1, 8)
      || ' owns name' || CAST(doc_id % {ENS_MOD} AS STRING) || '.eth'
      || ' contact @user_' || CAST(doc_id % {HANDLE_MOD} AS STRING)
      || CASE WHEN doc_id % 3 = 0
              THEN ' via https://twitter.com/user_'
                   || CAST(doc_id % {TWITTER_MOD} AS STRING)
              ELSE '' END
      || CASE WHEN doc_id % 4 = 0
              THEN ' media https://cdn' || CAST(doc_id % 7 AS STRING)
                   || '.example/a.jpg'
              ELSE '' END
      || ' ref https://ref' || CAST(doc_id % {TWITTER_MOD} AS STRING)
      || '.example/page'
      || CASE WHEN doc_id % 5 = 0
              THEN ' docs at docs' || CAST(doc_id % 7 AS STRING)
                   || '.example.com/guide'
              ELSE '' END
      || CASE WHEN doc_id % 6 = 0
              THEN ' mirror ftp://files' || CAST(doc_id % 5 AS STRING)
                   || '.backup.org/data'
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN ' homepage example' || CAST(doc_id % 4 AS STRING)
                   || '.com wow'
              ELSE '' END
      || CASE WHEN doc_id % 8 = 0
              THEN ' fork https://github.com/org' || CAST(doc_id % 6 AS STRING)
                   || '/repo' || CAST(doc_id % 4 AS STRING)
              ELSE '' END
      || CASE WHEN doc_id % 9 = 0
              THEN ' chat https://www.reddit.com/r/sub' || CAST(doc_id % 5 AS STRING)
              ELSE '' END
      || CASE WHEN doc_id % 9 = 3
              THEN ' profile https://www.reddit.com/u/user' || CAST(doc_id % 7 AS STRING)
              ELSE '' END AS text
FROM documents
"""


def synthesize_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side pages: run PAGES_SQL over the sf_dir documents parquet and
    add the ``warc_ts``/``html`` columns of the canonical PAGES schema
    (deterministic timestamp; html NULL — text is already extracted, the
    with_extracted_text stage passes it through unchanged)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    pages = spark.sql(PAGES_SQL)
    return (
        pages.withColumn(
            "warc_ts",
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("doc_id") % 168) * 3600
            ),
        )
        .withColumn("html", F.lit(None).cast("binary"))
        .select("url", "warc_ts", "html", "text", "lang", "doc_id", "source")
    )
