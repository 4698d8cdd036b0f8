"""Entity linking — identity-edge construction.

The reference builds identity (HAS_ACCOUNT) edges with four Cypher rules run
in order by /root/reference/pipelines/postProcessing/accounts/process.py:45-53:

  1. 2-hop through a shared alias: (Wallet)-[:HAS_ALIAS]-(Alias:Ens)-
     [:HAS_ALIAS]-(Twitter), guarded by NOT-already-linked
     (accounts/cyphers.py:38-51; transitive variants :108-144)
  2. same-handle self-join: account1.handle = account2.handle, id(a1)<>id(a2)
     (accounts/cyphers.py:69-83) — the hub-skew hotspot
  3. scored author→references rule: per (wallet, handle) count(REFERENCES)>3
     AND count/authorship > 0.8 → HAS_ACCOUNT {likely:true}
     (accounts/cyphers.py:86-105; params process.py:35)
  4. dictionary join: toLower(token.twitterUsername) = twitter.handle
     (accounts/cyphers.py:183-201)

Spark restatement: each rule is a join/agg pipeline returning
identity_edges(src_id, dst_id, rule, score, citation). Anti-join guards
(WHERE NOT (a)-[:X]-(b)) become left_anti joins; the same-handle self-join is
an equi-join on the blocking key with id1 < id2 dedup. Fuzzy (near-duplicate)
blocking is MinHash-LSH in datasets/dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REF_COUNT_THRESHOLD = 3  # accounts/cyphers.py:89 (count > 3)
REF_PROPORTION = 0.8  # accounts/cyphers.py:95 (proportion > 0.8)


def two_hop_links(
    alias_edges: DataFrame,
    left_label: str = "Wallet",
    right_label: str = "Twitter",
) -> DataFrame:
    """Rule 1: join two alias relations on the shared alias key.

    ``alias_edges``: (node_id, node_label, alias_id). Both sides shuffle on
    alias_id (the join key); alias ids are near-unique (an ENS name has one
    owner), so no skew here.
    """
    lhs = alias_edges.where(F.col("node_label") == left_label).select(
        F.col("node_id").alias("src"), F.col("alias_id")
    )
    rhs = alias_edges.where(F.col("node_label") == right_label).select(
        F.col("node_id").alias("dst"), F.col("alias_id")
    )
    return (
        lhs.join(rhs, "alias_id")
        .select("src", "dst")
        .distinct()
        .withColumn("rule", F.lit("two_hop_alias"))
        .withColumn("score", F.lit(1.0))
        .withColumn(
            "citation",
            F.lit("wallet-alias-twitter 2-hop (accounts/cyphers.py:38-51)"),
        )
    )


def same_key_links(nodes: DataFrame, key_col: str = "key") -> DataFrame:
    """Rule 2: self equi-join on a shared natural key with id1 < id2.

    Hub keys (one handle reused by thousands of accounts) make this the skew
    hotspot (SURVEY.md §2.5); AQE skew-join splitting handles the physical
    skew, and the id1<id2 predicate halves the output. Extremely hot keys
    above ``max_block`` are dropped entirely — linking everything to
    everything inside a mega-block is noise, the same motivation as the
    reference's hot-set restriction (scraping/tokenHolders/scrape.py:37-41).
    """
    max_block = 100
    blocked = nodes.select(F.col("id"), F.col(key_col).alias("k"))
    small = (
        blocked.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c").between(2, max_block))
        .select("k")
    )
    b = blocked.join(small, "k")
    a1, a2 = b.alias("a1"), b.alias("a2")
    return (
        a1.join(a2, (F.col("a1.k") == F.col("a2.k")) & (F.col("a1.id") < F.col("a2.id")))
        .select(F.col("a1.id").alias("src"), F.col("a2.id").alias("dst"))
        .withColumn("rule", F.lit("same_key"))
        .withColumn("score", F.lit(1.0))
        .withColumn("citation", F.lit("same-handle self-join (accounts/cyphers.py:69-83)"))
    )


def scored_reference_links(
    author_edges: DataFrame,  # (wallet_id, page_url)
    reference_edges: DataFrame,  # (page_url, twitter_id)
    count_threshold: int = REF_COUNT_THRESHOLD,
    proportion: float = REF_PROPORTION,
) -> DataFrame:
    """Rule 3: the reference's entity-linking score.

    refs(w,t)   = #pages authored by w that reference t
    authored(w) = #pages authored by w
    link iff refs > count_threshold AND refs/authored > proportion
    (accounts/cyphers.py:86-105). Two partial-aggregated groupBys + one
    broadcastable join on wallet — no skew risk because authored(w) is a
    per-wallet scalar.
    """
    pair = (
        author_edges.join(reference_edges, "page_url")
        .groupBy("wallet_id", "twitter_id")
        .agg(F.countDistinct("page_url").alias("refs"))
    )
    authored = author_edges.groupBy("wallet_id").agg(
        F.countDistinct("page_url").alias("authored")
    )
    return (
        pair.join(authored, "wallet_id")
        .where(
            (F.col("refs") > count_threshold)
            & (F.col("refs") / F.col("authored") > proportion)
        )
        .select(
            F.col("wallet_id").alias("src"),
            F.col("twitter_id").alias("dst"),
            F.lit("scored_reference").alias("rule"),
            (F.col("refs") / F.col("authored")).alias("score"),
            F.lit("likely HAS_ACCOUNT (accounts/cyphers.py:86-105)").alias("citation"),
        )
    )


def dictionary_links(
    entities: DataFrame,  # (entity_node_id, handle)
    twitter_nodes: DataFrame,  # (twitter_node_id, handle_key)
) -> DataFrame:
    """Rule 4: broadcast dictionary join on lowercased handle
    (accounts/cyphers.py:183-201). The dictionary side is curated and tiny →
    explicit broadcast, zero shuffle on the big side."""
    dim = F.broadcast(
        entities.where(F.col("handle").isNotNull()).select(
            F.col("entity_node_id").alias("src"), F.lower("handle").alias("hk")
        )
    )
    return (
        twitter_nodes.select(F.col("twitter_node_id").alias("dst"), F.lower("handle_key").alias("hk"))
        .join(dim, "hk")
        .select(
            "src",
            "dst",
            F.lit("dictionary_handle").alias("rule"),
            F.lit(1.0).alias("score"),
            F.lit("token.twitterUsername join (accounts/cyphers.py:183-201)").alias("citation"),
        )
    )


def anti_join_existing(candidates: DataFrame, existing: DataFrame) -> DataFrame:
    """The NOT (a)-[:X]-(b) guard on every link rule (accounts/cyphers.py:
    42,58,77,98,112): drop candidate pairs already linked, in either
    direction."""
    fwd = existing.select("src", "dst")
    rev = existing.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return candidates.join(fwd.unionByName(rev).distinct(), ["src", "dst"], "left_anti")

