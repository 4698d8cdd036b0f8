"""Seeded benchmark inputs and the Spark-side correctness oracle.

The corpus content is the fixture corpus (``fixtures.corpus``), so
``corpus.golden_triples(n)`` stays the oracle. The seed only decides what
does not change the answer: the physical row order of the materialized
corpus and the distractor aliases that pad the large dictionary. The file
split is fixed at one file per task thread: the number of corpus files sets
the number of extract tasks and mention files, and a seeded split moved the
cold call by up to a quarter.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import shutil
import string

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from web3_knowledge_graph_spark.fixtures import corpus

# fixture pages as arrow (schemas.PAGES: Spark reads these types back as it)
PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# Distractor aliases use letters outside the hex alphabet and a prefix no
# fixture page contains, so none of them ever matches page text.
_DISTRACTOR_LETTERS = "ghjkmnpqrstuvwxyz"


def materialize_pages(n: int, seed: int, path: str, files: int) -> None:
    """Write pages 0..n-1 to ``path`` as ``files`` parquet files in a seeded
    row order. Generated on the driver and written with pyarrow, so no
    Spark job runs before the pipeline's first call."""
    recs = [corpus.page_record(i) for i in range(n)]
    recs.sort(key=lambda r: hashlib.md5(f"{seed}:{r['url']}".encode()).digest())
    table = pa.Table.from_pylist(recs, schema=PAGES_ARROW)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-n // files)
    for k in range(files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet")
        )


def distractor_rows(count: int, seed: int) -> list[dict]:
    """``count`` dictionary entities with two aliases each, no handle and no
    address: they add aliases to match against but no triple."""
    rng = random.Random(seed)
    rows = []
    for k in range(count):
        stem = "".join(rng.choice(_DISTRACTOR_LETTERS) for _ in range(8))
        rows.append(
            {
                "entity_id": f"zz{k}",
                "kind": "dao",
                "name": f"Zz{k}",
                "aliases": [f"zzq{stem}", f"zzq{stem}{string.ascii_lowercase[k % 26]}x"],
                "address": None,
                "handle": None,
                "weight": 1.0,
            }
        )
    return rows


def side_tables(spark, extra_aliases: int, seed: int) -> tuple[dict, int]:
    """The side tables ``run_pipeline`` takes, with the alias dictionary
    padded by ``extra_aliases`` distractor aliases (rounded up to even), and
    the dictionary's alias count."""
    alias = corpus.alias_dict_pdf()
    if extra_aliases:
        pad = pd.DataFrame(distractor_rows((extra_aliases + 1) // 2, seed))
        alias = pd.concat([alias, pad], ignore_index=True)
    side = {
        "registrations": spark.createDataFrame(corpus.registrations_pdf()),
        "profiles": spark.createDataFrame(corpus.profiles_pdf()),
        "balances": spark.createDataFrame(corpus.balances_pdf()),
        "alias_dict": spark.createDataFrame(alias),
    }
    return side, int(alias["aliases"].map(len).sum())


@contextlib.contextmanager
def _no_feed_triples():
    # the side tables carry no feed tables, so the feed term of the fixture
    # golden is empty; every other term is unchanged
    orig = corpus.golden_feed_triples
    corpus.golden_feed_triples = set
    try:
        yield
    finally:
        corpus.golden_feed_triples = orig


def golden(spark, n: int):
    """``corpus.golden_triples(n)`` for side tables without feeds, as a
    DataFrame; returns (DataFrame, row count)."""
    with _no_feed_triples():
        pdf = corpus.golden_triples(n)
    return spark.createDataFrame(pdf).cache(), len(pdf)


def mismatches(got, want) -> int:
    """Rows in either multiset and not the other (0 iff equal), counted
    Spark-side in one action."""
    return got.exceptAll(want).unionAll(want.exceptAll(got)).count()
