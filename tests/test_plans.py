"""Executable physical-plan assertions — the PLANS.md claims as tests.

Each test runs the operator (so AQE finalizes its plan) and then asserts
the load-bearing physical property: the property that makes the plan the
right one at 100 TB. If a refactor silently downgrades a broadcast join to
a sort-merge join, or loses the below-shuffle top-k, these fail before any
benchmark would notice. The last tests hold the flagship's thread-pool
fan-out and the feed base tables to their oracle and failure paths.
"""

import shutil
import signal
import threading

import duckdb
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import web3_knowledge_graph_spark.driver_queries as dq
from web3_knowledge_graph_spark.driver_queries import _pages, _vocab_dict
from web3_knowledge_graph_spark.sources.feeds import all_feeds

SF = "/root/testdata/sf0.001"


def _final_plan(df) -> str:
    """Execute and return the AQE-final physical plan string."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_dict_mentions_broadcasts_dictionary(spark):
    """PLANS.md: the dictionary is always the broadcast build side — the
    corpus must never shuffle for the join."""
    from web3_knowledge_graph_spark.functions.mentions import dictionary_mentions

    plan = _final_plan(dictionary_mentions(_pages(spark, SF), _vocab_dict(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embed_topk_below_shuffle_and_pushdown(spark):
    """PLANS.md: probe-set filter pushed into the parquet scan; Spark 4
    WindowGroupLimit caps rows per query BEFORE the exchange."""
    from web3_knowledge_graph_spark.datasets.similarity import cosine_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = cosine_topk(e, e.where(F.col("vec_id") < 8), k=5)
    plan = _final_plan(df)
    assert "WindowGroupLimit" in plan
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,8)]" in plan


def test_minhash_partial_min_before_exchange(spark):
    """PLANS.md: map-side partial min reduces each doc to num_hashes rows
    before the shuffle — the exchange is O(docs·hashes), not shingles."""
    from web3_knowledge_graph_spark.datasets.dedup import minhash_signatures

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(minhash_signatures(d, k=2, num_hashes=4))
    assert "partial_min" in plan


def test_two_hop_no_cartesian(spark):
    """Linking joins are equi-joins on alias keys — no cartesian/nested-loop
    blowup anywhere in the rule."""
    from web3_knowledge_graph_spark.driver_queries import q_two_hop_links

    plan = _final_plan(q_two_hop_links(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extract_carry_cols_no_corpus_join(spark):
    """PLANS.md: the date-partitioned extract threads the partition date
    through the stage itself (carry_cols) — the plan must contain NO join
    against the corpus to recover it (the old shape joined mentions back
    to a dropDuplicates(url) of every page: a corpus-sized shuffle at
    10^12 pages). With a driver-sized dictionary the fused stage is a pure
    map: no joins AND no exchange of any kind (counts fold row-locally)."""
    from web3_knowledge_graph_spark.plans.pipeline import extract_stage

    pages = _pages(spark, SF).withColumn(
        "_d", F.to_date("warc_ts").cast("string")
    )
    df = extract_stage(pages, _vocab_dict(spark), carry_cols=("_d",))
    assert "_d" in df.columns
    plan = _final_plan(df)
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "Exchange"):
        assert op not in plan, op


def test_extract_large_dict_broadcast_only(spark):
    """Above FUSE_DICT_MAX_ALIASES the dictionary branch falls back to the
    broadcast join — hits-sized build side, still no shuffled join and no
    corpus exchange."""
    from web3_knowledge_graph_spark.plans import pipeline as P

    vocab = _vocab_dict(spark)
    pad = spark.createDataFrame(
        [("pad%04d" % i, "token", ["zzpad%04d" % i])
         for i in range(P.FUSE_DICT_MAX_ALIASES + 8)],
        "entity_id string, kind string, aliases array<string>",
    )
    df = P.extract_stage(_pages(spark, SF), vocab.unionByName(pad))
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_extract_reads_only_needed_columns(spark):
    """Column pruning reaches the scan: the mention pipeline must read only
    the document columns the page synthesis needs, not the whole table."""
    from web3_knowledge_graph_spark.functions.mentions import extract_mentions

    plan = _final_plan(extract_mentions(_pages(spark, SF), kinds=("wallet",)))
    scans = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert scans, "no parquet scan found in plan"
    for line in scans:
        # documents.parquet carries (doc_id, text, lang, source, n_chars);
        # the page synthesis derives everything it needs without n_chars,
        # so a pruned scan must not read it — this guards against a
        # select(*) sneaking in upstream of the synthesis.
        assert "n_chars" not in line, line


def test_decontaminate_broadcasts_benchmark(spark):
    """PLANS.md: the benchmark shingle set is the broadcast build side —
    the corpus never shuffles its text for the overlap join."""
    from web3_knowledge_graph_spark.datasets.curation import decontaminate

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(decontaminate(d, d.where(F.col("doc_id") % 17 == 0), k=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_line_dedup_small_build_side(spark):
    """PLANS.md: the duplicated-line subset (not the corpus) is the join
    build side — at this scale AQE must finish with broadcast joins only —
    and the plan has no cartesian product."""
    from web3_knowledge_graph_spark.datasets.curation import line_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(line_dedup(d, min_docs=2))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_no_cartesian(spark):
    """PLANS.md: every round is equi-join + groupBy on node ids — no
    cartesian/nested-loop joins anywhere in the iterated plan."""
    from web3_knowledge_graph_spark.operators.pagerank import pagerank

    e = spark.read.parquet(f"{SF}/events.parquet")
    edges = e.select(
        F.col("user_id").cast("long").alias("src"),
        (F.col("event_id") % 50).cast("long").alias("dst"),
    )
    plan = _final_plan(pagerank(edges, rounds=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_no_unbounded_broadcast_no_cartesian(spark):
    """PLANS.md: the df-pruned vocabulary keeps the rare-term long tail —
    unbounded at web scale — so it must NOT be a forced broadcast build
    side (no explicit broadcast hint in the logical plan); every join is a
    term- or doc-keyed equi-join, no cartesian anywhere. (AQE may still
    choose broadcast at tiny scale — that's a size decision, not a plan
    contract; the contract is that we don't force it.)"""
    from web3_knowledge_graph_spark.datasets.textstats import tfidf_similar_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = tfidf_similar_pairs(d, threshold=0.5, max_df=100)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical  # no forced broadcast of the vocab
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assignment_is_pure_map(spark):
    """PLANS.md: centroids are literal expression trees — the returned
    assignment plan is one scan with NO exchange and NO join of any kind
    (the corpus never shuffles for scoring)."""
    from web3_knowledge_graph_spark.datasets.clustering import kmeans_assign

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _final_plan(kmeans_assign(e, k=4, iters=1))
    for op in ("Exchange", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, op


def test_triangles_no_cartesian(spark):
    """PLANS.md: orientation, wedge, and closing joins are all equi-joins
    (node- or pair-keyed) — no cartesian/nested-loop term anywhere."""
    from web3_knowledge_graph_spark.driver_queries import q_triangles

    plan = _final_plan(q_triangles(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_one_exchange_one_sort(spark):
    """PLANS.md: the union-window as-of plan costs exactly one Exchange on
    the key plus one in-partition sort — no range join, no per-row probe."""
    from web3_knowledge_graph_spark.operators.asof import asof_join

    e = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id", "ts")
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    plan = _final_plan(asof_join(
        e, o, key="user_id", probe_ts="ts", state_ts="o_orderdate",
        value_cols=["o_orderkey"], tiebreak="o_orderkey",
    ))
    # AdaptiveSparkPlan.toString prints Final AND Initial sections — count
    # exchanges in the final section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_join_no_nested_loop_for_short_intervals(spark):
    """PLANS.md: short intervals go through the bucketed equi-join; the
    full corpus must never hit a nested-loop/cartesian plan. (The long
    branch exists in the plan but joins an empty broadcast side here.)"""
    from web3_knowledge_graph_spark.operators.interval import interval_join

    e = spark.read.parquet(f"{SF}/events.parquet")
    iv = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e2"),
        F.col("event_id").alias("iv_id"),
    )
    pts = e.select("event_id", "user_id", "ts")
    plan = _final_plan(interval_join(
        pts, iv, point_ts="ts", start_col="s", end_col="e2",
        key="user_id", bucket_width_s=3600,
    ))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_dup_spans_partial_count_before_exchange(spark):
    """PLANS.md: window-hash occurrence counts partial-aggregate map-side
    (HashAggregate below the exchange on the hash key) — the exchange
    moves per-(doc,hash-partial) rows, not one row per window position."""
    from web3_knowledge_graph_spark.datasets.dedup import dup_spans

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(dup_spans(d, k=8))
    import re

    # a partial_count must appear BEFORE (deeper than) the exchange on wh
    assert re.search(r"partial_count", plan), plan[:800]
    assert "CartesianProduct" not in plan


def test_cms_build_exchange_bounded_by_sketch(spark):
    """PLANS.md: the sketch build partial-aggregates onto ≤ d×w grouping
    keys before its exchange — counter merge, not row transport."""
    from web3_knowledge_graph_spark.datasets.sketches import cms_build

    e = spark.read.parquet(f"{SF}/events.parquet")
    plan = _final_plan(cms_build(e, "user_id", d=2, w=64))
    assert "partial_count" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_profession_labels_pure_scan_no_join(spark):
    """PLANS.md WIC batching: all six professionals bio-keyword rules
    evaluate in ONE scan — array-of-when + explode, no join anywhere, and
    the only exchange is the final (entity, context) dedup."""
    from web3_knowledge_graph_spark.operators.wic import profession_labels
    from web3_knowledge_graph_spark.sources.feeds import feed

    plan = _final_plan(profession_labels(feed(spark, SF, "platform_accounts")))
    final = plan.split("== Initial Plan ==")[0]
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in final, final[:800]
    assert final.count("Exchange hashpartitioning") == 1


def test_refine_partition_broadcasts_dimensions(spark):
    """PLANS.md: the refinement sweep's community-volume and m2 relations
    are dimension-sized broadcasts; no cartesian product — the only
    non-broadcast joins key on the node id."""
    from web3_knowledge_graph_spark.operators.communities import refine_partition

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (4, 200), (5, 200), (6, 200)],
        "id long, community long",
    )
    plan = _final_plan(refine_partition(edges, labels))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastHashJoin" in final
    assert "BroadcastNestedLoopJoin" in final  # the 1-row m2 crossJoin


def test_feed_rel_cache_bounded_and_clearable(spark):
    """The relation memo must be BOUNDED (evict + unpersist the
    oldest entry of a kind past _MEMO_MAX) and explicitly invalidatable
    via clear_feed_cache() — a long-lived session sweeping many sf_dirs
    must not accumulate executor-storage blocks (round-3 advice)."""
    dq.clear_feed_cache()
    # Pre-fill the "feed" kind to capacity with fakes (MAX-independent)
    # so the real entry must evict the oldest; one entry of another kind
    # rides along and must survive, since the bound is per kind.
    other = spark.range(1).persist()
    other.count()
    dq._MEMO[("alias", "app", "x")] = other
    fakes = []
    for i in range(dq._MEMO_MAX):
        f = spark.range(i + 1).persist()
        f.count()
        fakes.append(f)
        dq._MEMO[("feed", "app", str(i))] = f

    rel = dq._feed_rel(spark, SF)
    assert sum(k[0] == "feed" for k in dq._MEMO) <= dq._MEMO_MAX
    # the oldest fake was evicted AND its blocks released
    assert ("feed", "app", "0") not in dq._MEMO
    assert not fakes[0].storageLevel.useMemory
    assert ("feed", "app", "1") in dq._MEMO
    assert dq._MEMO[("alias", "app", "x")] is other
    # same key memoizes (no re-materialization)
    assert dq._feed_rel(spark, SF) is rel

    dq.clear_feed_cache()
    assert not dq._MEMO
    assert not rel.storageLevel.useMemory
    for f in (other, *fakes[1:]):
        assert not f.storageLevel.useMemory


def test_feed_rel_cached_partitioning_sane(spark):
    """PLANS.md 'Session plan hygiene': with
    canChangeCachedPlanOutputPartitioning=true AQE coalesces INSIDE the
    persist()-cached feed union — without it the cache materializes at
    sum-of-branches raw shuffle partitions (22 feeds × shuffle.partitions,
    observed ~1400) and that degenerate partitioning poisons every
    consumer stage (round-4 regression). The cached relation must come
    back at a sane partition count, not the raw branch sum."""
    import web3_knowledge_graph_spark.driver_queries as dq

    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "true"
    )
    dq.clear_feed_cache()
    try:
        rel = dq._feed_rel(spark, SF)
        n_feeds = 33  # sources/feeds.ALL_FEEDS
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        raw_branch_sum = n_feeds * shuffle_parts
        assert rel.rdd.getNumPartitions() < raw_branch_sum // 4
    finally:
        dq.clear_feed_cache()


def test_language_id_is_a_pure_map(spark):
    """PLANS.md: language ID folds per-language stopword hits row-locally
    — a corpus-scale classifier must not shuffle O(corpus tokens) rows
    (the former explode → broadcast-join → groupBy spelling did exactly
    that). The AQE-final plan must contain no Exchange at all."""
    from web3_knowledge_graph_spark.datasets.textstats import language_id

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(language_id(docs))
    assert "Exchange" not in plan
    # '*(n)' marks whole-stage-codegen spans in the executedPlan string
    assert plan.lstrip().startswith("*(")


def test_gopher_rules_is_a_pure_map(spark):
    """COVERAGE.md: the Gopher rule battery folds every rule over
    row-local word/line arrays — one corpus scan, zero exchanges."""
    from web3_knowledge_graph_spark.datasets.textstats import gopher_rules

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(gopher_rules(docs))
    assert "Exchange" not in plan


def test_unimax_sample_two_scan_broadcast_dim(spark):
    """curation.unimax_sample docstring: the corpus executes exactly one
    scan in the final job (pass 2 of the prefix sum; pass 1 is the
    separate subtotal collect), the |languages|-row budget dimension
    joins by broadcast, and nothing sort-merge joins."""
    from web3_knowledge_graph_spark.datasets.curation import unimax_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _final_plan(unimax_sample(docs, budget=10_000, epoch_cap=2))
    # the executedPlan string prints the final plan first and AQE's
    # pre-adaptive initial plan after it — count scans in the final only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(pdf) -> list:
    cols = sorted(pdf.columns)
    return sorted(tuple(repr(v) for v in row) for row in pdf[cols].itertuples(index=False))


def test_flagship_triples_equals_oracle(spark):
    """The whole flagship (threaded extraction, memoized feeds, graph
    build, checkpoints) equals its natural-key DuckDB replay, rows
    compared order-insensitively."""
    got = dq.flagship_triples(spark, SF).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    want = con.execute(dq.all_oracles()["flagship_triples"]).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) == 12787
    assert _canon(got) == _canon(want)


def test_flagship_triples_failure_joins_workers(spark, monkeypatch):
    """A failing stage job re-raises on the caller, and no worker thread
    outlives the call. SIGALRM turns a hang into a test failure."""

    def boom(*args, **kwargs):
        raise RuntimeError("alias relations failed")

    def hung(signum, frame):
        raise TimeoutError("flagship_triples did not return after a worker failed")

    monkeypatch.setattr(dq, "_page_alias_relations", boom)
    before = set(threading.enumerate())
    prev = signal.signal(signal.SIGALRM, hung)
    signal.alarm(600)
    try:
        with pytest.raises(RuntimeError, match="alias relations failed"):
            dq.flagship_triples(spark, SF)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)
    alive = [t for t in threading.enumerate() if t not in before and not t.daemon]
    assert not alive, alive


def test_all_feeds_failure_unpersists_bases(spark, tmp_path):
    """An sf_dir without orders.parquet fails all_feeds; the base tables
    that did persist (events, customer) must be released, not left in the
    block manager for a retried call to stack fresh copies on top."""
    for t in ("events", "customer"):
        shutil.copy(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(AnalysisException):
        all_feeds(spark, str(tmp_path))
    assert jsc.getPersistentRDDs().size() == before
