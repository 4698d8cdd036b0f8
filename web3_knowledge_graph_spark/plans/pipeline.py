"""End-to-end KG construction plan:

  pages ──extract_text──▶ text ──mention detection──▶ mentions
        (per-bucket, checkpointed)                      │
  side tables (registrations/profiles/balances/dict) ───┤
        │                                               ▼
        └────────▶ alias & identity rules ──▶ identity edges ──▶ CC
                                                        │
                                                        ▼
                                    nodes / edges / triples tables

This one plan replaces the reference's scraper → S3 JSON → ingestor → CSV →
Neo4j Cypher → postProcessing chain (SURVEY.md §3 EP1-EP3). Stage A
(extract+mention) is embarrassingly parallel and checkpointed per date
bucket — the unit of resume; the graph stages are global (linking and CC
need cross-bucket data) and each checkpoints as a single unit.

Scale notes (100 TB / 1000 executors):
  * pages would live in an Iceberg table partitioned by warc_date; the date
    bucket here prunes to partition scans, so a resume re-reads only
    unprocessed dates.
  * mentions shuffles once on (url, kind, value) with map-side partial agg.
  * all dictionary joins broadcast; the identity self-join caps block size;
    CC shuffles on node id with AQE skew splitting (operators/canon.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import mentions as M
from ..functions.extraction import with_extracted_text
from ..functions.mentions import extract_ens_names, extract_handles
from ..functions.normalize import audit_columns, node_id
from ..operators import linking
from ..operators.canon import canonical_ids, connected_components
from ..operators.holdings import rotate_holdings
from ..schemas import MENTIONS
from ..sources.checkpoint import CheckpointLog
from ..sources.warehouse import Warehouse

AUTHOR_RE = r"Author wallet: (0x[a-fA-F0-9]+)"


def _author_mentions(pages: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    # One author row per page = first valid wallet + valid-match count.
    # Pages are one row each, so this is a pure PROJECTION — the
    # explode → groupBy(url) → first/count formulation computes the same
    # thing through a full shuffle of every author mention (and its
    # "first" is only deterministic because each url's rows stay in one
    # task); element_at(filtered, 1) is the same value with zero shuffle.
    cands = F.regexp_extract_all(F.col("text"), F.lit(AUTHOR_RE), 1)
    wallets = F.transform(
        F.filter(cands, lambda x: F.length(x) == 42), F.lower
    )
    return (
        pages.select(
            F.col("url"),
            *carry_cols,
            F.lit("author").alias("kind"),
            F.element_at(wallets, 1).alias("value"),
            F.size(wallets).cast("long").alias("n"),
        )
        .where(F.col("n") > 0)
    )


# Above this alias count the fused stage's literal alias→entity maps stop
# being sensible expression trees and the broadcast-join branch takes over.
FUSE_DICT_MAX_ALIASES = 512


def extract_stage(
    pages: DataFrame,
    alias_dict: DataFrame,
    carry_cols: tuple[str, ...] = (),
    alias_rows: list | None = None,
) -> DataFrame:
    """pages (html/text) → mentions(url, [carry...,] kind, value, n).

    ``carry_cols`` (must be functionally dependent on url — e.g. the page's
    ingest date) thread through every branch so the caller can partition
    the output directly instead of joining mentions back to the corpus for
    the partition key — at 10^12 pages that join is a corpus-sized shuffle;
    the passthrough is free (no added cardinality).

    FUSED single pass (dictionaries up to FUSE_DICT_MAX_ALIASES): the
    five-regex tagged array, the dictionary hits (translated alias →
    (dict:<kind>, entity_id) IN-ROW through literal maps — the dict is
    driver-sized by contract), and the author entry are produced in ONE
    projection over ONE HTML→text extraction, then occurrence counts fold
    row-locally (array_sort → run-length, see extract_mentions) and a
    single explode emits the stage. Zero joins, zero shuffles, one corpus
    scan. The previous shape — a 3-branch union — ran the Arrow
    extraction UDF once PER BRANCH (a union shares no subtree), which was
    ~60% of the stage's wall time once the regex passes were fixed
    (charclass.py); fusing removes two full extraction+scan passes.

    Dictionaries larger than the literal-map bound keep the broadcast-join
    branch (union with the fused regex+author pass): alias translation
    joins only the matched hits (~1/doc), so its exchange stays
    hits-sized, never corpus-sized.
    """
    texted = with_extracted_text(pages).where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    if alias_rows is None:
        # driver-sized by contract; callers that run this per micro-batch
        # (extract_mentions_stream) pre-collect once and pass it in
        alias_rows = alias_dict.select(
            F.explode("aliases").alias("a"), "entity_id", "kind"
        ).collect()
    # alias → ALL its (kind, entity) rows: nothing enforces alias
    # uniqueness, and the broadcast-join branch fans a shared alias out to
    # every entity — a last-wins dict here would silently change output
    # across the FUSE_DICT_MAX_ALIASES cutover
    amap: dict[str, list[tuple[str, str]]] = {}
    for r in alias_rows:
        amap.setdefault(r.a.lower(), []).append(("dict:" + r.kind, r.entity_id))

    text = F.col("text")
    regex_tagged = M.tagged_mention_array(text)
    author_cands = F.regexp_extract_all(text, F.lit(AUTHOR_RE), 1)
    author_wallets = F.transform(
        F.filter(author_cands, lambda x: F.length(x) == 42), F.lower
    )
    author_struct = F.struct(
        F.lit("author").alias("kind"),
        F.try_element_at(author_wallets, F.lit(1)).alias("value"),
        F.size(author_wallets).cast("long").alias("n"),
    )
    author_counted = F.filter(F.array(author_struct), lambda s: s["n"] > 0)

    if not amap:
        # empty dictionary (legal: a deployment with no alias list yet) —
        # regex + author mentions only, no dict pass to fuse
        srt0 = texted.select(
            F.col("url"), *carry_cols,
            F.array_sort(regex_tagged).alias("_srt"),
            author_counted.alias("_extra"),
        )
        return _counted_explode(srt0, carry_cols)

    if len(alias_rows) > FUSE_DICT_MAX_ALIASES:
        # pass the pre-collected alias list through: without it a streaming
        # caller (extract_mentions_stream) re-runs the alias collect every
        # micro-batch — in exactly the large-dictionary regime where the
        # collect is most expensive
        dict_m = M.dictionary_mentions(
            texted, alias_dict, carry_cols=carry_cols,
            alias_strings=[r.a for r in alias_rows],
        )
        srt0 = texted.select(
            F.col("url"), *carry_cols,
            F.array_sort(regex_tagged).alias("_srt"),
            author_counted.alias("_extra"),
        )
        fused = _counted_explode(srt0, carry_cols)
        return fused.unionByName(dict_m)

    # alias → array<struct(kind, value)> literal map; flatten fans each hit
    # out to every entity sharing the alias (≡ the broadcast-join branch)
    entries = []
    for a, es in sorted(amap.items()):
        entries.append(F.lit(a))
        entries.append(
            F.array(
                *[
                    F.struct(F.lit(k).alias("kind"), F.lit(e).alias("value"))
                    for k, e in sorted(es)
                ]
            )
        )
    tag_map = F.create_map(*entries)
    hit_arrays = M._dict_hit_arrays(
        alias_dict, text, alias_strings=[r.a for r in alias_rows]
    )
    hits = F.concat(*hit_arrays) if len(hit_arrays) > 1 else hit_arrays[0]
    dict_tagged = F.flatten(F.transform(hits, lambda a: F.element_at(tag_map, a)))
    srt0 = texted.select(
        F.col("url"), *carry_cols,
        F.array_sort(F.concat(regex_tagged, dict_tagged)).alias("_srt"),
        author_counted.alias("_extra"),
    )
    return _counted_explode(srt0, carry_cols)


def _counted_explode(srt0: DataFrame, carry_cols: tuple[str, ...]) -> DataFrame:
    """(url, carry..., _srt sorted tagged array, _extra pre-counted
    structs) → exploded mentions rows. Staged projections keep each
    intermediate a materialized column (single evaluation, see
    extract_mentions)."""
    runs = srt0.select(
        "url", *carry_cols, "_srt", "_extra",
        M._run_starts(F.col("_srt")).alias("_starts"),
    )
    return (
        runs.select(
            "url", *carry_cols,
            F.explode(
                F.concat(
                    M._count_runs(F.col("_srt"), F.col("_starts")), F.col("_extra")
                )
            ).alias("m"),
        )
        .select(
            "url", *carry_cols,
            F.col("m.kind").alias("kind"),
            F.col("m.value").alias("value"),
            F.col("m.n").alias("n"),
        )
    )


# ---------------------------------------------------------------------------


def build_graph(
    spark: SparkSession,
    mentions: DataFrame,
    registrations: DataFrame,
    profiles: DataFrame,
    balances: DataFrame,  # with snapshot column; rotation folds snapshots
    alias_dict: DataFrame,
    feeds: dict[str, DataFrame] | None = None,
    feed_edges_rel: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """mentions + side tables → (nodes, edges) with canonical ids.

    Every edge family below restates one reference rule (citations in the
    operator modules). Node ids are deterministic xxhash64(label-family:key).

    ``feeds`` optionally carries per-source landing tables (keys from
    sources.feeds.ALL_FEEDS); present feeds contribute their edge families
    through operators.edge_rules — the widened predicate vocabulary
    (TRANSFERRED, FOLLOWS, VOTED, DONATION, DELEGATES_TO, …). Feed rules
    never touch the corpus: their cost is bounded by the feeds themselves.
    """
    # No cache() here: build_graph returns LAZY nodes/edges, so a cache
    # placed now and unpersisted at return would be dropped before any
    # consumer executes (the old shape did exactly that — the cache never
    # served a single downstream job). Callers hand a materialized
    # relation instead: the flagship localCheckpoints mentions, and
    # run_pipeline reads them back from the warehouse parquet — either
    # re-scan is column-pruned and cheap, with no executor-storage residue.
    men = mentions

    def kind(k: str) -> DataFrame:
        return men.where(F.col("kind") == k)

    def mk_edges(df: DataFrame, s_label: str, s_col: str, pred: str, o_label: str, o_col: str, weight=None):
        w = weight if weight is not None else F.lit(1.0)
        return df.select(
            node_id(s_label, F.col(s_col)).alias("subj"),
            F.lit(pred).alias("pred"),
            node_id(o_label, F.col(o_col)).alias("obj"),
            w.cast("double").alias("weight"),
            F.lit(None).cast("string").alias("citation"),
        )

    # --- content edges from mentions ------------------------------------
    # all five mention-derived edge families in ONE pass over mentions
    # (kind→pred/endpoint CASEs) instead of five filtered branches — one
    # scan of the largest relation, one plan subtree. Kinds with no edge
    # family ('wallet', plain 'url') fall out via the NULL-pred filter.
    author = kind("author")  # (url, value=wallet)
    _pred = (
        F.when(F.col("kind") == "author", F.lit("AUTHOR"))
        .when(F.col("kind") == "twitter", F.lit("REFERENCES"))
        .when(F.col("kind") == "ens", F.lit("MENTIONS_ENS"))
        .when(F.col("kind") == "handle", F.lit("BIO_MENTIONED"))
        .when(F.col("kind") == "dict:token", F.lit("MENTIONS_ENTITY"))
    )
    _obj_label = (
        F.when(F.col("kind") == "author", F.lit("Page"))
        .when(F.col("kind").isin("twitter", "handle"), F.lit("Twitter"))
        .when(F.col("kind") == "ens", F.lit("Ens"))
        .when(F.col("kind") == "dict:token", F.lit("Entity"))
    )
    is_author = F.col("kind") == "author"
    e_mention = (
        men.where(_pred.isNotNull())
        .select(
            F.when(is_author, node_id("Wallet", F.col("value")))
            .otherwise(node_id("Page", F.col("url")))
            .alias("subj"),
            _pred.alias("pred"),
            node_id(_obj_label, F.when(is_author, F.col("url")).otherwise(F.col("value")))
            .alias("obj"),
            F.when(F.col("kind") == "twitter", F.col("n").cast("double"))
            .otherwise(F.lit(1.0))
            .alias("weight"),
            F.lit(None).cast("string").alias("citation"),
        )
    )

    # --- alias edges from side tables ------------------------------------
    # registrations → Wallet HAS_ALIAS Ens (helpers/queries.py:79-92,127-139)
    reg = registrations.select(
        F.lower("owner").alias("wallet"), F.lower("name").alias("ens")
    ).dropDuplicates()
    e_wallet_ens = mk_edges(reg, "Wallet", "wallet", "HAS_ALIAS", "Ens", "ens")

    # profile bios → Twitter HAS_ALIAS Ens (postProcessing/twitterBiosENS)
    #              → Twitter BIO_MENTIONED Twitter (twitterRelations)
    # localCheckpoint, not cache: three consumers (t_ens, t_bio,
    # twitter_dim) re-run the two bio regex extracts otherwise, and an
    # unmatched cache() would leak executor storage for the session's
    # lifetime. Profiles are side-table sized — the eager materialization
    # is bounded.
    prof = profiles.select(
        F.lower("handle").alias("handle"),
        extract_ens_names(F.col("bio")).alias("bio_ens"),
        extract_handles(F.col("bio")).alias("bio_handles"),
    ).localCheckpoint()
    t_ens = prof.select("handle", F.explode("bio_ens").alias("ens")).dropDuplicates()
    e_twitter_ens = mk_edges(t_ens, "Twitter", "handle", "HAS_ALIAS", "Ens", "ens")
    t_bio = prof.select("handle", F.explode("bio_handles").alias("other")).where(
        F.col("handle") != F.col("other")
    )
    e_bio_twitter = mk_edges(t_bio, "Twitter", "handle", "BIO_MENTIONED", "Twitter", "other")

    # --- identity links (operators/linking.py rules 1-4) ------------------
    alias_rel = (
        reg.select(
            node_id("Wallet", F.col("wallet")).alias("node_id"),
            F.lit("Wallet").alias("node_label"),
            node_id("Ens", F.col("ens")).alias("alias_id"),
        )
        .unionByName(
            t_ens.select(
                node_id("Twitter", F.col("handle")).alias("node_id"),
                F.lit("Twitter").alias("node_label"),
                node_id("Ens", F.col("ens")).alias("alias_id"),
            )
        )
    )
    l_two_hop = linking.two_hop_links(alias_rel)

    author_edges = author.select(
        node_id("Wallet", F.col("value")).alias("wallet_id"), F.col("url").alias("page_url")
    )
    reference_edges = kind("twitter").select(
        F.col("url").alias("page_url"), node_id("Twitter", F.col("value")).alias("twitter_id")
    )
    l_scored = linking.scored_reference_links(author_edges, reference_edges)

    entities = alias_dict.select(
        node_id("Entity", F.col("entity_id")).alias("entity_node_id"), F.col("handle")
    )
    # rule 4 joins against ALL Twitter nodes the graph mints
    # (accounts/cyphers.py:183-201 matches every :Twitter node), so the
    # dictionary dimension is the union of every Twitter-node source
    # above: profile handles, twitter.com link mentions, @-handle
    # mentions, and bio-mentioned handles — not just the first two
    # (an @-mention-only handle was previously unlinkable).
    twitter_dim = (
        prof.select(F.col("handle").alias("handle_key"))
        .unionByName(kind("twitter").select(F.col("value").alias("handle_key")))
        .unionByName(kind("handle").select(F.col("value").alias("handle_key")))
        .unionByName(t_bio.select(F.col("other").alias("handle_key")))
        .dropDuplicates()
    )
    twitter_nodes = twitter_dim.select(
        node_id("Twitter", F.col("handle_key")).alias("twitter_node_id"), "handle_key"
    )
    l_dict = linking.dictionary_links(entities, twitter_nodes)

    # duplicate (src, dst) pairs across rules resolve by the reference's
    # rule ORDER (accounts/process.py runs rules sequentially with
    # NOT-already-linked guards): two-hop beats scored beats dictionary.
    # A bare dropDuplicates kept an arbitrary row, making the edge's
    # weight/citation flip between otherwise-identical runs.
    links = (
        l_two_hop.withColumn("_prio", F.lit(1))
        .unionByName(l_scored.withColumn("_prio", F.lit(2)))
        .unionByName(l_dict.withColumn("_prio", F.lit(3)))
        .groupBy("src", "dst")
        .agg(F.min(F.struct("_prio", "rule", "score", "citation")).alias("_m"))
        .select("src", "dst", "_m.rule", "_m.score", "_m.citation")
    )
    # No anti-join against existing edges here: the old call passed a
    # hardcoded EMPTY relation — a guaranteed no-op that still paid for an
    # anti-join subtree inside the checkpointed link DAG. Idempotency
    # against the already-materialized graph is merge_upsert's job (the
    # reference's MERGE semantics); linking.anti_join_existing remains the
    # NOT-pattern operator for callers that do hold an existing-edge set.
    # materialize the link rules once: this join DAG (two-hop + scored +
    # dictionary linking, each with its own shuffle) otherwise re-runs for
    # every consumer — the HAS_ACCOUNT edge family, the identity edge set
    # fed to connected_components (which itself runs ≥2 jobs over its
    # input), and the final edges union. Output is one row per linked
    # account pair — tiny relative to the corpus at any scale.
    links = links.localCheckpoint()
    e_account = links.select(
        F.col("src").alias("subj"),
        F.lit("HAS_ACCOUNT").alias("pred"),
        F.col("dst").alias("obj"),
        F.col("score").cast("double").alias("weight"),
        F.col("citation"),
    )

    # --- holdings rotation (operators/holdings.py) ------------------------
    snaps = balances.select(
        F.lower("address").alias("holder_key"),
        F.lower("contract_address").alias("token_key"),
        F.col("snapshot"),
    ).dropDuplicates()
    snap_ids = snaps.select(
        node_id("Wallet", F.col("holder_key")).alias("holder"),
        node_id("Token", F.col("token_key")).alias("token"),
        "snapshot",
    )
    s1 = snap_ids.where(F.col("snapshot") == 1).select(
        "holder", "token", F.lit("HOLDS").alias("pred"), F.lit(1.0).alias("weight")
    )
    s2 = snap_ids.where(F.col("snapshot") == 2).select("holder", "token", F.lit(1.0).alias("weight"))
    holdings = rotate_holdings(s1, s2)
    e_holdings = holdings.select(
        F.col("holder").alias("subj"),
        F.col("pred"),
        F.col("token").alias("obj"),
        F.col("weight"),
        F.lit("holdings rotation (tokenHolders/cypher.py:104-148)").alias("citation"),
    )

    # --- feed-rule edge families (operators/edge_rules.py) -----------------
    # ``feed_edges_rel`` lets a caller hand in the already-materialized rule
    # output — the flagship evaluates it on a separate thread CONCURRENTLY
    # with the corpus extraction (independent job DAGs; the Spark scheduler
    # runs them side by side, hiding the feed path's wall time entirely)
    feed_rel = feed_edges_rel
    if feed_rel is None and feeds:
        from ..operators import edge_rules as ER

        # one row per emitted edge — feed-bounded; materialize once for the
        # two consumers (edge union + node dimension)
        feed_rel = ER.feed_edge_rules(feeds).localCheckpoint()

    edges = (
        e_mention
        .unionByName(e_wallet_ens)
        .unionByName(e_twitter_ens)
        .unionByName(e_bio_twitter)
        .unionByName(e_account, allowMissingColumns=True)
        .unionByName(e_holdings, allowMissingColumns=True)
    )
    if feed_rel is not None:
        from ..operators import edge_rules as ER

        edges = edges.unionByName(ER.as_id_edges(feed_rel))
    edges = edges.dropDuplicates(["subj", "pred", "obj"])

    # --- node dimension ----------------------------------------------------
    def node_rows(df: DataFrame, label: str, key_col: str) -> DataFrame:
        # no per-branch dropDuplicates: the union below dedups by id once —
        # one shuffle total instead of one per branch
        return df.select(
            node_id(label, F.col(key_col)).alias("id"),
            F.lit(label).alias("label"),
            F.lower(F.col(key_col)).alias("key"),
        )

    # All mention-derived node families in ONE pass over mentions: a
    # kind→label CASE replaces six separate filtered branches (each branch
    # would rescan mentions and add its own plan subtree — at 100 TB that
    # is six scans of the largest relation; here it is also most of the
    # flagship's one-time plan-compilation cost). Kinds outside the CASE
    # (plain 'url', other dict kinds) deliberately produce no nodes,
    # exactly as the old per-kind branches did.
    mention_label = (
        F.when(F.col("kind").isin("author", "wallet"), F.lit("Wallet"))
        .when(F.col("kind").isin("twitter", "handle"), F.lit("Twitter"))
        .when(F.col("kind") == "ens", F.lit("Ens"))
        .when(F.col("kind") == "dict:token", F.lit("Entity"))
    )
    m_nodes = men.select(mention_label.alias("_l"), F.col("value").alias("_k")).where(
        F.col("_l").isNotNull()
    )
    p_nodes = men.select(F.lit("Page").alias("_l"), F.col("url").alias("_k"))

    def labeled(df: DataFrame) -> DataFrame:
        return df.select(
            node_id(F.col("_l"), F.col("_k")).alias("id"),
            F.col("_l").alias("label"),
            F.lower(F.col("_k")).alias("key"),
        )

    nodes = (
        labeled(m_nodes)
        .unionByName(labeled(p_nodes))
        .unionByName(node_rows(reg, "Wallet", "wallet"))
        .unionByName(node_rows(snaps, "Wallet", "holder_key"))
        .unionByName(node_rows(prof.select("handle"), "Twitter", "handle"))
        .unionByName(node_rows(t_bio.select(F.col("other")), "Twitter", "other"))
        .unionByName(node_rows(reg.select("ens"), "Ens", "ens"))
        .unionByName(node_rows(t_ens.select("ens"), "Ens", "ens"))
        .unionByName(node_rows(alias_dict.select("entity_id"), "Entity", "entity_id"))
        .unionByName(node_rows(snaps.select("token_key"), "Token", "token_key"))
    )
    if feed_rel is not None:
        from ..operators import edge_rules as ER

        nodes = nodes.unionByName(ER.node_dim(feed_rel))
    nodes = nodes.dropDuplicates(["id"])

    # --- canonicalization (operators/canon.py) -----------------------------
    identity = (
        e_wallet_ens.select("subj", "obj")
        .unionByName(e_twitter_ens.select("subj", "obj"))
        .unionByName(e_account.select("subj", "obj"))
        .withColumnRenamed("subj", "src")
        .withColumnRenamed("obj", "dst")
    )
    nodes = canonical_ids(nodes, identity)
    return nodes, edges


def triples(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """edges × nodes → human-readable (subj, pred, obj) 'Label:key' triples —
    the parity artifact (BASELINE.md target: per-predicate P/R ≥ 0.95)."""
    dim = nodes.select("id", F.concat_ws(":", "label", "key").alias("name"))
    subj_dim = dim.select(F.col("id").alias("_sid"), F.col("name").alias("subj_name"))
    obj_dim = dim.select(F.col("id").alias("_oid"), F.col("name").alias("obj_name"))
    return (
        edges.join(subj_dim, edges["subj"] == F.col("_sid"))
        .join(obj_dim, F.col("obj") == F.col("_oid"))
        .select(
            F.col("subj_name").alias("subj"),
            F.col("pred"),
            F.col("obj_name").alias("obj"),
        )
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# checkpointed runner
# ---------------------------------------------------------------------------

def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    side: dict[str, DataFrame],
    warehouse_root: str,
    run_id: str = "run1",
    buckets: int = 8,
) -> DataFrame:
    """Full resumable run: extract per DATE partition (skip completed dates
    — so incremental ingest of new dates processes exactly the new data),
    then graph build + materialize. Returns the triples DataFrame.

    ``buckets`` is retained for API compatibility; extraction partitioning
    is by event date (the reference's date-stamped landing files,
    helpers/s3.py:51), which is what makes resume and incremental ingest
    partition-exact."""
    wh = Warehouse(warehouse_root)
    log = CheckpointLog(warehouse_root)
    alias_dict = side["alias_dict"]

    # Partition the extract stage by EVENT DATE, not by a hash bucket of the
    # date: incremental ingest appends pages with NEW dates, and a new date
    # must become a new (unprocessed) partition — hashing dates into a fixed
    # bucket count would land new data in already-completed partitions and
    # silently skip it. Dates group into ``buckets`` batches per loop pass
    # purely to bound the number of write jobs.
    # A completed date is skipped ONLY if its input is byte-unchanged:
    # the lineage mark stores (rows_in, input_fp) where input_fp is an
    # order-independent WRAPPING SUM (mod 2^64) of per-row xxhash64 over
    # EVERY input column. Sum, not bit_xor: xor cancels exact-duplicate
    # row PAIRS, so swapping one duplicated page pair for a different
    # duplicated pair would keep both rows_in and the fingerprint
    # unchanged and serve that date's stale extract on resume — the sum
    # is multiset-sensitive (mark schema v2; v1 xor marks simply miss,
    # forcing a one-time reprocess). Late-arriving pages for an
    # already-done date move the count; in-place edits that keep the
    # count move the fingerprint — either way that date is reprocessed:
    # dynamic partition overwrite rewrites exactly its output and a newer
    # lineage mark supersedes the old one. Both stats come from the one
    # groupBy the resume scan already does (the decimal sum never
    # overflows: |hash| ≤ 2^63, so decimal(38,0) holds ~10^19 rows/date).
    done_inputs = log.completed_inputs("extract")

    def _wrap64(x: int) -> int:
        x %= 1 << 64
        return x - (1 << 64) if x >= (1 << 63) else x

    per_date = {
        str(r["d"]): (int(r["n"]), _wrap64(int(r["fp"])))
        for r in pages.groupBy(F.to_date("warc_ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # xxhash64 folds NULL args as a no-op, so a value moving
            # between two nullable columns (html=B,text=NULL →
            # html=NULL,text=S with S's bytes == B) would hash the same;
            # the per-column null mask rides along as extra (never-null)
            # hash inputs to break that — same blind spot the side-table
            # signature below closes with to_json(struct(*)), done here
            # without JSON-encoding the corpus html bytes.
            F.sum(
                F.xxhash64(
                    *pages.columns,
                    *[F.col(c).isNull() for c in pages.columns],
                ).cast("decimal(38,0)")
            ).alias("fp"),
        )
        .collect()
    }
    dates = sorted(per_date)
    todo = [d for d in dates if done_inputs.get(f"date={d}") != per_date[d]]
    # dates group into ≤``buckets`` extract jobs; output lands in per-date
    # partition dirs via DYNAMIC partition overwrite, so a retried batch
    # rewrites exactly its own dates (idempotent, no orphan output), and
    # each completed date gets its own lineage mark — date-granular resume
    # with a bounded job count.
    import math

    size = max(1, math.ceil(len(todo) / buckets)) if todo else 1
    for i in range(0, len(todo), size):
        batch = todo[i : i + size]
        t0 = time.time()
        dcol = F.to_date("warc_ts").cast("string")
        # the partition date rides through the extract's own groupBy
        # (carry_cols — functionally dependent on url), so the output is
        # directly partitionable: no join back to the corpus, no
        # dropDuplicates shuffle of every url
        part = pages.where(dcol.isin(batch)).withColumn("_d", dcol)
        out2 = extract_stage(part, alias_dict, carry_cols=("_d",))
        # per-date lineage counts ride on the WRITE job itself (observe +
        # one count_if per date in the batch) — no read-back job over the
        # just-written partitions. Dynamic overwrite replaces exactly the
        # batch's dates, so "rows written" == "rows now in those
        # partitions"; the observation sees the same rows the writer
        # commits.
        from pyspark.sql import Observation

        obs = Observation(f"extract_counts_{i}")
        out2 = out2.observe(
            obs,
            *[
                F.count_if(F.col("_d") == d).alias(f"n_{j}")
                for j, d in enumerate(batch)
            ],
        )
        (
            out2.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_d")
            .parquet(f"{warehouse_root}/mentions_data")
        )
        got = obs.get
        counts = {d: int(got[f"n_{j}"] or 0) for j, d in enumerate(batch)}
        # dynamic partition overwrite only replaces partitions PRESENT in
        # the written data: a reprocessed date whose new extraction yields
        # zero mentions writes nothing for _d=<date>, which would leave the
        # old rows on disk while the mark records the new fingerprint as
        # done — delete the now-empty partition explicitly
        import shutil

        for d in batch:
            if counts.get(d, 0) == 0:
                shutil.rmtree(
                    f"{warehouse_root}/mentions_data/_d={d}", ignore_errors=True
                )
        dur = (time.time() - t0) / len(batch)
        for d in batch:
            log.mark(
                run_id, "extract", f"date={d}",
                rows_in=per_date[d][0], rows_out=int(counts.get(d, 0)),
                duration_s=dur, watermark=d, input_fp=per_date[d][1],
            )

    import os

    def _has_partitions() -> bool:
        # isdir alone is not enough: the zero-mention rmtree above can
        # leave mentions_data holding only _SUCCESS, and read.parquet on a
        # partitionless directory throws "Unable to infer schema" — which
        # would brick every subsequent resume of this warehouse
        try:
            return any(
                n.startswith("_d=")
                for n in os.listdir(f"{warehouse_root}/mentions_data")
            )
        except FileNotFoundError:
            return False

    if _has_partitions():
        mentions = (
            spark.read.parquet(f"{warehouse_root}/mentions_data")
            .select("url", "kind", "value", "n")
        )
    else:
        # empty corpus (no extract batch ever ran) or every date's latest
        # extraction produced zero mentions
        mentions = spark.createDataFrame([], MENTIONS)

    # rebuild the graph unless a graph mark exists FOR THIS EXACT input
    # state. `todo or no-mark` is not enough: a run that crashes AFTER
    # writing its extract marks but BEFORE the graph mark leaves todo empty
    # on the next resume while an OLD run's graph mark still reads "done" —
    # the stale graph would be served forever. The signature (hash of every
    # date's (rows, fingerprint) PLUS every side table's multiset row hash)
    # stored as the graph mark's input_fp makes the mark self-describing:
    # it certifies the graph was built from precisely this extract state
    # AND these side tables. The side-table term closes the former blind
    # spot where an edited registrations/profiles/feed table with an
    # unchanged corpus served a stale graph on resume (mark schema v3;
    # v2 corpus-only marks simply miss, forcing a one-time rebuild).
    import hashlib

    # one Spark job for all side tables: per-table (count, wrapped-sum of
    # to_json(struct(*)) row hashes) — to_json keeps NULL-vs-value column
    # shifts distinguishable; the sum is multiset-sensitive (see the
    # per-date fingerprint note above)
    sig_parts = []
    for name in sorted(side):
        df = side[name]
        sig_parts.append(
            df.select(
                F.lit(name).alias("t"),
                F.xxhash64(F.to_json(F.struct(*df.columns)))
                .cast("decimal(38,0)")
                .alias("h"),
            )
        )
    side_u = sig_parts[0]
    for p in sig_parts[1:]:
        side_u = side_u.unionByName(p)
    side_state = sorted(
        (r["t"], int(r["n"]), int(r["fp"] or 0) % (1 << 64))
        for r in side_u.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("fp"))
        .collect()
    )
    corpus_sig = (
        int.from_bytes(
            hashlib.md5(
                repr((sorted(per_date.items()), side_state)).encode()
            ).digest()[:8],
            "big",
            signed=False,
        )
        - (1 << 63)
    )
    graph_mark = log.completed_inputs("graph").get("graph")
    if todo or graph_mark is None or graph_mark[1] != corpus_sig:
        t0 = time.time()
        from ..sources.feeds import ALL_FEEDS

        feeds = {k: side[k] for k in ALL_FEEDS if k in side}
        nodes, edges = build_graph(
            spark, mentions, side["registrations"], side["profiles"],
            side["balances"], alias_dict, feeds=feeds or None,
        )
        # audit stamps (helpers/cypher.py:14-16, queries.py:29-33) + MERGE
        # semantics: created_dt survives re-runs (ON MATCH keeps the
        # earliest), last_update_dt/ingested_by reflect this run. MERGE
        # never deletes — matching the reference's Cypher MERGE, where the
        # graph only grows as ingest is incremental.
        nodes = audit_columns(nodes, run_id)
        edges = audit_columns(edges, run_id)
        wh.table("nodes").merge_upsert(spark, nodes, keys=["id"])
        wh.table("edges").merge_upsert(spark, edges, keys=["subj", "pred", "obj"])
        trip = triples(wh.table("nodes").read(spark), wh.table("edges").read(spark))
        wh.table("triples").overwrite(trip)
        log.mark(
            run_id, "graph", "graph",
            rows_out=wh.table("triples").read(spark).count(),
            duration_s=time.time() - t0,
            input_fp=corpus_sig,
        )
    return wh.table("triples").read(spark)
