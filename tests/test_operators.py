"""Unit tests for linking rules, holdings rotation, WIC rules/scoring,
and normalization scalars."""

import pandas as pd
from pyspark.sql import functions as F

from web3_knowledge_graph_spark.functions import normalize as N
from web3_knowledge_graph_spark.operators import linking
from web3_knowledge_graph_spark.operators.holdings import rotate_holdings
from web3_knowledge_graph_spark.operators.rules import apply_rules, reputation_scores


def test_normalize_scalars(spark):
    df = spark.createDataFrame(
        [("0x" + "A" * 40, "0x0000", 'he said "hi"\n', "Sym$!", "ff", 1700000000, "fooBarBaz")],
        "w string, z string, t string, s string, h string, e long, cc string",
    )
    row = df.select(
        N.is_valid_wallet(F.col("w")).alias("vw"),
        N.is_zero_address(F.col("z")).alias("vz"),
        N.sanitize_text(F.col("t")).alias("st"),
        N.clean_symbol(F.col("s")).alias("cs"),
        N.hex_to_decimal(F.col("h")).cast("long").alias("hd"),
        N.epoch_to_ts(F.col("e")).cast("string").alias("ts"),
        N.split_camel_case(F.col("cc")).alias("sc"),
    ).first()
    assert row["vw"] and row["vz"]
    assert row["st"] == "he said hi"
    assert row["cs"] == "Sym"
    assert row["hd"] == 255
    assert row["ts"].startswith("2023-11-14")
    assert row["sc"] == "foo Bar Baz"


def test_hex_to_decimal_arbitrary_precision(spark):
    big = 2**70 + 3  # beyond int64 — reference's set_int_max_str_digits path
    df = spark.createDataFrame([(hex(big),)], "h string")
    got = df.select(N.hex_to_decimal(F.col("h")).alias("d")).first()["d"]
    assert int(got) == big


def test_scored_reference_links(spark):
    # wallet w1 authors 5 pages, 4 reference t1 (prop .8 NOT > .8? 4/5=0.8 -> excluded),
    # 5 reference t2 via another wallet w2 with 5/5 pages (prop 1.0, refs 5 -> linked)
    authors = spark.createDataFrame(
        [(1, f"p{i}") for i in range(5)] + [(2, f"q{i}") for i in range(5)],
        "wallet_id long, page_url string",
    )
    refs = spark.createDataFrame(
        [(f"p{i}", 10) for i in range(4)] + [(f"q{i}", 20) for i in range(5)],
        "page_url string, twitter_id long",
    )
    got = {(r["src"], r["dst"]) for r in linking.scored_reference_links(authors, refs).collect()}
    assert got == {(2, 20)}  # 4/5 == 0.8 fails the strict > threshold


def test_same_key_links_caps_hub_blocks(spark):
    rows = [(i, "hub") for i in range(200)] + [(1000, "dup"), (1001, "dup")]
    nodes = spark.createDataFrame(rows, "id long, key string")
    got = [(r["src"], r["dst"]) for r in linking.same_key_links(nodes).collect()]
    assert got == [(1000, 1001)]  # hub block (200 > max_block) dropped


def test_anti_join_existing(spark):
    cands = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    existing = spark.createDataFrame([(2, 1)], "src long, dst long")  # reversed
    got = {(r["src"], r["dst"]) for r in linking.anti_join_existing(cands, existing).collect()}
    assert got == {(3, 4)}


def test_rotate_holdings(spark):
    prev = spark.createDataFrame(
        [(1, 100, "HOLDS", 1.0), (2, 100, "HOLDS", 2.0), (3, 100, "HELD", 1.0)],
        "holder long, token long, pred string, weight double",
    )
    snap = spark.createDataFrame(
        [(2, 100, 5.0), (4, 100, 1.0)], "holder long, token long, weight double"
    )
    got = {(r["holder"], r["pred"], r["weight"]) for r in rotate_holdings(prev, snap).collect()}
    assert got == {
        (1, "HELD", 1.0),  # dropped out -> retyped
        (2, "HOLDS", 5.0),  # refreshed props win
        (3, "HELD", 1.0),  # stays HELD
        (4, "HOLDS", 1.0),  # new holder
    }


def test_wic_rules_and_score(spark):
    base = spark.createDataFrame(
        [(f"w{i}", float(i)) for i in range(1, 5)], "entity_id string, weight double"
    )
    rules = {
        "trader": lambda: base.where(F.col("weight") >= 2),
        "whale": lambda: base.where(F.col("weight") >= 4),
    }
    labels = apply_rules(rules)
    scores = {r["entity_id"]: r["reputation_score"] for r in reputation_scores(labels).collect()}
    # w4: 4(trader)+4(whale)=8 -> 100; w2: 2 -> 25
    assert scores["w4"] == 100.0 and scores["w2"] == 25.0


def test_salted_agg_matches_plain(spark):
    """Salted two-phase aggregation is semantics-neutral, including on a
    heavily skewed key (one hub key holding 80% of rows)."""
    from web3_knowledge_graph_spark.operators.skew import salted_agg
    import pyspark.sql.functions as F

    rows = [("hub", float(i % 7)) for i in range(4000)] + [
        (f"k{i % 50}", float(i)) for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "key string, v double")
    got = {
        r.key: (r.n, r.total, r.lo, r.hi)
        for r in salted_agg(
            df, ["key"],
            [("v", "count", "n"), ("v", "sum", "total"), ("v", "min", "lo"), ("v", "max", "hi")],
            buckets=8,
        ).collect()
    }
    want = {
        r.key: (r.n, r.total, r.lo, r.hi)
        for r in df.groupBy("key").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6
        assert got[k][2:] == want[k][2:]


def test_split_hot_keys(spark):
    from web3_knowledge_graph_spark.operators.skew import split_hot_keys

    rows = [("hub", i) for i in range(500)] + [(f"k{i}", i) for i in range(20)]
    df = spark.createDataFrame(rows, "key string, v long")
    hot, rest = split_hot_keys(df, "key", hot_threshold=100)
    assert hot.count() == 500
    assert rest.count() == 20
    assert {r.key for r in hot.select("key").distinct().collect()} == {"hub"}

def test_label_propagation_two_clusters(spark):
    """Two weight-2 triangles joined by a weight-1 bridge: LPA must settle
    each triangle on its own min-id label and never merge across the weak
    bridge (hand-traced expected labels; deterministic by construction)."""
    from web3_knowledge_graph_spark.operators.communities import label_propagation

    edges = [
        (1, 2, 2), (1, 3, 2), (2, 3, 2),
        (10, 11, 2), (10, 12, 2), (11, 12, 2),
        (3, 10, 1),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r.id: r.community for r in label_propagation(df, weight="w", rounds=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_unweighted_default(spark):
    """weight=None counts each edge as 1; a star collapses onto the hub's
    neighborhood min label."""
    from web3_knowledge_graph_spark.operators.communities import label_propagation

    edges = [(5, 1, 0), (5, 2, 0), (5, 3, 0)]
    df = spark.createDataFrame(edges, "src long, dst long, ignored long")
    got = {r.id: r.community for r in label_propagation(df, rounds=4).collect()}
    # leaves adopt hub's label, hub adopts min leaf label; after even rounds
    # the synchronous system reaches its 2-cycle phase deterministically
    assert set(got) == {1, 2, 3, 5}
    assert len(set(got.values())) <= 2


def test_pagerank_fixed_point_hand_traced(spark):
    """Spark pagerank equals a sequential pure-Python replay of the same
    integer fixed-point recurrence on a 4-node graph with a dangling node."""
    from web3_knowledge_graph_spark.operators.pagerank import SCALE, pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (1, 2)]  # dup edge collapses; 4 absent
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank_micro for r in pagerank(df, rounds=6).collect()}

    e = sorted(set(edges))
    nodes = sorted({n for ab in e for n in ab})
    outd = {}
    for s, _ in e:
        outd[s] = outd.get(s, 0) + 1
    r = {n: SCALE for n in nodes}
    for _ in range(6):
        c = {n: 0 for n in nodes}
        for s, d in e:
            c[d] += r[s] // outd[s]
        r = {n: (15 * SCALE + 85 * c[n]) // 100 for n in nodes}
    assert got == r
    # ranks sum is bounded (dangling mass leaks; no teleport redistribution)
    assert sum(got.values()) <= len(nodes) * SCALE


def test_triangles_vs_python(spark):
    """Degree-ordered orientation enumerates each triangle exactly once,
    matching the brute-force itertools replay; hub skew doesn't duplicate."""
    import itertools

    from web3_knowledge_graph_spark.operators import triangles as TR

    # K4 on a-d (4 triangles), a pendant, a hub 'h' tied into one triangle,
    # duplicate + reversed + self-loop edges that must canonicalize away
    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"),
        ("b", "d"), ("c", "d"), ("d", "e"), ("h", "a"), ("h", "b"),
        ("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"), ("a", "a"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    expect = {
        (x, y, z)
        for x, y, z in itertools.combinations(nodes, 3)
        if {(x, y), (x, z), (y, z)} <= und
    }
    got = {(r.node_a, r.node_b, r.node_c) for r in TR.triangles(df).collect()}
    assert got == expect and len(got) == 5
    counts = {r.node: r.tri_count for r in TR.triangle_counts(df).collect()}
    py_counts = {}
    for t in expect:
        for n in t:
            py_counts[n] = py_counts.get(n, 0) + 1
    assert counts == py_counts


def test_clustering_coefficient(spark):
    from web3_knowledge_graph_spark.operators import triangles as TR

    # square a-b-c-d-a plus one diagonal a-c: two triangles
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: (r.deg, r.tri_count, r.clustering)
           for r in TR.clustering_coefficient(df).collect()}
    assert got["a"] == (3, 2, 2 * 2.0 / (3 * 2))
    assert got["c"] == (3, 2, 2 * 2.0 / (3 * 2))
    assert got["b"] == (2, 1, 1.0)
    assert got["d"] == (2, 1, 1.0)
    # pendant node: degree 1, zero triangles, coefficient 0.0
    df2 = spark.createDataFrame(edges + [("d", "e")], "src string, dst string")
    got2 = {r.node: (r.deg, r.tri_count, r.clustering)
            for r in TR.clustering_coefficient(df2).collect()}
    assert got2["e"] == (1, 0, 0.0)


def test_link_prediction_vs_python(spark):
    """Wedge-generated features equal the brute-force replay; the hub cap
    removes hub-mediated pairs; RA uses exact integer micro-units."""
    import itertools

    from web3_knowledge_graph_spark.operators import linkpred as LPD

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("b", "d"),
        ("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"), ("h", "e"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    und = {tuple(sorted(e)) for e in edges}
    nbrs = {}
    for u, v in und:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)

    def expect(max_hub):
        out = {}
        for x, y in itertools.combinations(sorted(nbrs), 2):
            common = {z for z in nbrs[x] & nbrs[y] if len(nbrs[z]) <= max_hub}
            if not common:
                continue
            cn = len(common)
            ra = sum(1_000_000 // len(nbrs[z]) for z in common)
            jac = cn / (len(nbrs[x]) + len(nbrs[y]) - cn)
            out[(x, y)] = (cn, jac, ra, (x, y) in und)
        return out

    for max_hub in (100, 4):  # 4 excludes the degree-5 hub as a middle
        got = {
            (r.node_a, r.node_b): (
                r.common_neighbors, r.jaccard, r.resource_alloc_micro,
                r.already_linked,
            )
            for r in LPD.link_prediction(df, max_hub=max_hub).collect()
        }
        assert got == expect(max_hub), max_hub
    # hub-mediated-only pair (e with anyone) exists at max_hub=100 but
    # disappears when the hub cannot be a middle
    assert ("a", "e") in expect(100) and ("a", "e") not in expect(4)


def test_kcore_vs_python(spark):
    """Fixed-round peeling equals the sequential replay AND converges to
    the true k-core on the fixture (rounds > peel depth)."""
    from web3_knowledge_graph_spark.operators import triangles as TRI

    # K4 core (a-d) + a tail e-f-g that peels away over multiple rounds
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")

    def py_kcore(k, rounds):
        und = {tuple(sorted(e)) for e in edges}
        for _ in range(rounds):
            deg = {}
            for u, v in und:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            alive = {n for n, d in deg.items() if d >= k}
            und = {(u, v) for u, v in und if u in alive and v in alive}
        deg = {}
        for u, v in und:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        return {n: d for n, d in deg.items() if d >= k}

    got = {r.node: r.deg for r in TRI.kcore(df, k=3, rounds=6).collect()}
    assert got == py_kcore(3, 6) == {"a": 3, "b": 3, "c": 3, "d": 3}
    # k=2: the e-f-g tail peels over successive rounds; converged by 6
    got2 = {r.node: r.deg for r in TRI.kcore(df, k=2, rounds=6).collect()}
    assert got2 == py_kcore(2, 6)
    assert py_kcore(2, 6) == py_kcore(2, 12)  # fixture converged: true core


def test_personalized_pagerank_vs_python(spark):
    """Seed-restricted teleport equals the exact integer sequential
    replay; unreachable non-seeds stay at exactly 0."""
    from web3_knowledge_graph_spark.operators import pagerank as PRK

    # seeds {1}; chain 1->2->3; island 9->10 unreachable from the seed
    edges = [(1, 2), (2, 3), (3, 1), (9, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.rank_micro for r in PRK.personalized_pagerank(
        df, seeds, rounds=4).collect()}

    S = 1_000_000
    nodes = {1, 2, 3, 9, 10}
    seed = {n: (1 if n == 1 else 0) for n in nodes}
    outd = {1: 1, 2: 1, 3: 1, 9: 1}
    r = {n: seed[n] * S for n in nodes}
    for _ in range(4):
        c = {n: 0 for n in nodes}
        for s, d in edges:
            c[d] += r[s] // outd[s]
        r = {n: (15 * S * seed[n] + 85 * c[n]) // 100 for n in nodes}
    assert got == r
    assert got[9] == 0 and got[10] == 0  # island never earns mass
    assert got[1] > 0 and got[2] > 0 and got[3] > 0  # cycle holds seed mass


def test_asof_join_hand_traced(spark):
    """Backward as-of semantics against a hand-built tape: exact-ts match
    is visible, ties resolve to max tiebreak, probes before any state get
    NULLs, keys are isolated."""
    import datetime as dt

    from web3_knowledge_graph_spark.operators.asof import asof_join

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    state = spark.createDataFrame(
        [
            ("a", t(10), 1, 100.0),
            ("a", t(20), 2, 200.0),
            ("a", t(20), 3, 300.0),  # tie at :20 — max tiebreak (3) wins
            ("b", t(15), 4, 400.0),
        ],
        "k string, sts timestamp, okey long, oval double",
    )
    probe = spark.createDataFrame(
        [
            ("a", t(5), 1),   # before any state → NULL
            ("a", t(10), 2),  # exactly at state ts → sees okey 1
            ("a", t(20), 3),  # tie instant → sees okey 3
            ("a", t(25), 4),  # after → still okey 3
            ("b", t(30), 5),  # other key isolated → okey 4
            ("c", t(30), 6),  # key with no state → NULL
        ],
        "k string, pts timestamp, pid long",
    )
    got = {
        r.pid: (r.okey, r.oval)
        for r in asof_join(
            probe, state, key="k", probe_ts="pts", state_ts="sts",
            value_cols=["okey", "oval"], tiebreak="okey",
        ).collect()
    }
    assert got == {
        1: (None, None),
        2: (1, 100.0),
        3: (3, 300.0),
        4: (3, 300.0),
        5: (4, 400.0),
        6: (None, None),
    }


def test_asof_join_null_state_value_does_not_leak(spark):
    """A newer state row with a NULL attribute must NOT let the older
    row's value show through: state travels as one struct, so the newest
    row wins wholesale (per-column last(ignorenulls) would leak)."""
    import datetime as dt

    from web3_knowledge_graph_spark.operators.asof import asof_join

    state = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1, 100.0),
         ("a", dt.datetime(2024, 1, 2), 2, None)],
        "k string, sts timestamp, okey long, oval double",
    )
    probe = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 3), 1)], "k string, pts timestamp, pid long"
    )
    row = asof_join(
        probe, state, key="k", probe_ts="pts", state_ts="sts",
        value_cols=["okey", "oval"], tiebreak="okey",
    ).first()
    assert row.okey == 2 and row.oval is None


def test_asof_join_single_shuffle_plan(spark):
    """The union-window plan must cost exactly one Exchange + one Sort —
    the whole point of the operator vs a range join."""
    import datetime as dt

    from web3_knowledge_graph_spark.operators.asof import asof_join

    state = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1)], "k string, sts timestamp, okey long"
    )
    probe = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 2), 1)], "k string, pts timestamp, pid long"
    )
    df = asof_join(
        probe, state, key="k", probe_ts="pts", state_ts="sts",
        value_cols=["okey"], tiebreak="okey",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_grant_donor_two_axis_communities(spark):
    """Two disjoint donation blocks must come out as two communities on
    BOTH projection axes (the gitcoin-communities shape: one bipartite
    graph, partitioned per axis)."""
    from web3_knowledge_graph_spark.operators.communities import label_propagation
    from web3_knowledge_graph_spark.operators.projection import bipartite_project

    # block A: donors 1-3 × grants 101-103 (complete), block B: 4-6 × 104-106
    rel = spark.createDataFrame(
        [(d, g) for d in (1, 2, 3) for g in (101, 102, 103)]
        + [(d, g) for d in (4, 5, 6) for g in (104, 105, 106)],
        "donor long, grant long",
    )
    for bottom, top, members in (
        ("donor", "grant", ({101, 102, 103}, {104, 105, 106})),
        ("grant", "donor", ({1, 2, 3}, {4, 5, 6})),
    ):
        proj = bipartite_project(rel, bottom_col=bottom, top_col=top, threshold=2)
        labels = {
            r.id: r.community
            for r in label_propagation(
                proj, src="top_a", dst="top_b", weight="shared", rounds=3
            ).collect()
        }
        for blk in members:
            assert len({labels[m] for m in blk}) == 1  # one community per block
        assert labels[min(members[0])] != labels[min(members[1])]


def test_interval_join_hand_traced(spark):
    """Closed-boundary containment, key isolation, invalid intervals
    dropped, and a bucket-straddling interval still matches (the bucketed
    plan must not lose cross-bucket containment)."""
    import datetime as dt

    from web3_knowledge_graph_spark.operators.interval import interval_join

    def t(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    iv = spark.createDataFrame(
        [
            ("a", t(10), t(12), 1),   # 2h window
            ("a", t(15, 30), t(16, 30), 2),  # straddles the 16:00 bucket edge
            ("b", t(10), t(12), 3),
            ("a", t(20), t(19), 4),   # invalid: end < start → dropped
        ],
        "k string, s timestamp, e timestamp, iv_id long",
    )
    pts = spark.createDataFrame(
        [
            ("a", t(10), 1),     # == start → match 1 (closed)
            ("a", t(12), 2),     # == end → match 1 (closed)
            ("a", t(12, 1), 3),  # just past end → no match
            ("a", t(16, 15), 4), # inside straddling window → match 2
            ("b", t(11), 5),     # key b → match 3 only
            ("c", t(11), 6),     # unknown key → nothing
            ("a", t(19, 30), 7), # inside invalid window's span → nothing
        ],
        "k string, ts timestamp, pid long",
    )
    got = {
        (r.pid, r.iv_id)
        for r in interval_join(
            pts, iv, point_ts="ts", start_col="s", end_col="e",
            key="k", bucket_width_s=3600,
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (4, 2), (5, 3)}


def test_interval_join_long_interval_broadcast_path(spark):
    """An interval spanning more buckets than long_bucket_limit must still
    match (via the broadcast branch, not a giant explode)."""
    import datetime as dt

    from web3_knowledge_graph_spark.operators.interval import interval_join

    iv = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), dt.datetime(2024, 3, 1), 1)],
        "k string, s timestamp, e timestamp, iv_id long",
    )
    pts = spark.createDataFrame(
        [("a", dt.datetime(2024, 2, 1), 1), ("a", dt.datetime(2024, 4, 1), 2)],
        "k string, ts timestamp, pid long",
    )
    got = {
        (r.pid, r.iv_id)
        for r in interval_join(
            pts, iv, point_ts="ts", start_col="s", end_col="e",
            key="k", bucket_width_s=3600, long_bucket_limit=64,
        ).collect()
    }
    assert got == {(1, 1)}  # 1440-bucket interval matched without explode


def test_hits_vs_python(spark):
    """Fixed-point HITS equals the exact sequential replay on a small
    directed graph; sink/source degeneracies covered (no in-edges → auth
    0, no out-edges → hub 0)."""
    from web3_knowledge_graph_spark.operators.hits import SCALE, hits

    edges = [(1, 10), (2, 10), (2, 11), (3, 11), (10, 20)]
    got = {
        r.id: (r.hub_micro, r.auth_micro)
        for r in hits(
            spark.createDataFrame(edges, "src long, dst long"), rounds=4
        ).collect()
    }

    nodes = {n for e in edges for n in e}
    h = {n: SCALE for n in nodes}
    for _ in range(4):
        ar = {n: sum(h[s] for s, d in edges if d == n) for n in nodes}
        mx = max(ar.values())
        a = {n: (v * SCALE) // mx if mx > 0 else 0 for n, v in ar.items()}
        hr = {n: sum(a[d] for s, d in edges if s == n) for n in nodes}
        mx = max(hr.values())
        h = {n: (v * SCALE) // mx if mx > 0 else 0 for n, v in hr.items()}
    assert got == {n: (h[n], a[n]) for n in nodes}
    assert got[1][1] == 0   # node 1 has no in-edges → authority 0
    assert got[20][0] == 0  # node 20 has no out-edges → hub 0
    assert got[2][0] == SCALE  # node 2 points at both strong authorities


def test_asof_join_null_state_ts_dropped(spark):
    """A state row with NULL timestamp must never become 'the latest
    state': it is not at-or-before anything (regression — NULLS FIRST in
    the window sort used to hand it to every earliest probe)."""
    import datetime as dt

    from web3_knowledge_graph_spark.operators.asof import asof_join

    state = spark.createDataFrame(
        [("a", None, 99, 999.0), ("a", dt.datetime(2024, 1, 2), 1, 100.0)],
        "k string, sts timestamp, okey long, oval double",
    )
    probe = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1), ("a", dt.datetime(2024, 1, 3), 2)],
        "k string, pts timestamp, pid long",
    )
    got = {
        r.pid: r.okey
        for r in asof_join(
            probe, state, key="k", probe_ts="pts", state_ts="sts",
            value_cols=["okey", "oval"], tiebreak="okey",
        ).collect()
    }
    assert got == {1: None, 2: 1}  # NULL-ts row invisible to both probes


def test_interest_labels_keyword_batching(spark):
    """Interests tree (interests/analyze.py:11-80): ONE tokenize pass over
    crafted bios must label by the reference keyword lists — including
    multi-keyword contexts deduping to one label per (entity, context)."""
    from web3_knowledge_graph_spark.operators.wic import interest_labels

    texts = spark.createDataFrame(
        [
            ("w1", "I make music; new ALBUM out — musician life"),
            ("w2", "gamer and photography nerd"),
            ("w3", "nothing relevant here"),
            ("w4", "regen refi educator; desci data pipelines"),
            # the reference phrase keyword 'video games' must match via its
            # folded tokens (interests/cyphers.py:84-120)
            ("w5", "I love video games"),
        ],
        "entity_id string, text string",
    )
    got = {
        (r["entity_id"], r["context"]): (r["condition"], r["weight"])
        for r in interest_labels(texts).collect()
    }
    assert set(got) == {
        ("w1", "Music"),
        ("w2", "Gaming"),
        ("w2", "Photography"),
        ("w4", "RegenerativeSystems"),
        ("w4", "Education"),
        ("w4", "DeSci"),
        ("w4", "DataScience"),
        ("w5", "Gaming"),
    }
    # reference interests weight is 0 (analyze.py "weight": 0)
    assert all(v == ("ArtCultureEntertainment", 0.0) for k, v in got.items()
               if k[1] in ("Music", "Gaming", "Photography"))
    assert got[("w4", "RegenerativeSystems")] == ("SocialJustice", 0.0)
    assert got[("w4", "DeSci")] == ("ScienceTech", 0.0)


def test_interest_evidence_arms_hand_trace(spark):
    """Multi-arm interests evidence (interests/cyphers.py non-bio arms):
    a literal 2-page / 2-nft / 2-grant graph where every arm has exactly
    one positive — and music's PER-ARM keyword variation holds (:44-60:
    'concert' is in the article list but NOT the collector list; 'album'
    is in neither). Also covers cross-arm dedup (w_auth hit by two arms →
    one row), the >1-articles keyword-free collector rule (:363-372), and
    the themed holder/account arms (:12-30)."""
    from web3_knowledge_graph_spark.operators.wic import (
        interest_evidence_labels,
    )

    pages = spark.createDataFrame(
        [
            ("p1", "concert review night"),   # articles-arm-only keyword
            ("p2", "gaming guild diary"),     # both page arms
            ("p3", "an album retrospective"), # bio-list keyword: NO page arm
        ],
        "page_id string, text string",
    )
    authors = spark.createDataFrame(
        [("p1", "w_auth"), ("p2", "w_auth"), ("p3", "w_quiet")],
        "page_id string, entity_id string",
    )
    nfts = spark.createDataFrame(
        [("p1", "n1"), ("p2", "n2"), ("p3", "n3")],
        "page_id string, nft_id string",
    )
    owners = spark.createDataFrame(
        # w_coll owns NFTs of all three pages → collector arm fires only
        # for p2 (its keyword is collector-listed), threshold arm fires
        # (3 ≥ 2 distinct articles); w_one owns one page's NFT only
        [("n1", "w_coll"), ("n2", "w_coll"), ("n3", "w_coll"),
         ("n1", "w_one")],
        "nft_id string, entity_id string",
    )
    grants = spark.createDataFrame(
        [("g1", "Gaming guild grant"), ("g2", "Bridge maintenance")],
        "grant_id string, title string",
    )
    grant_wallets = spark.createDataFrame(
        [("g1", "w_donor"), ("g2", "w_other")],
        "grant_id string, entity_id string",
    )
    holders = spark.createDataFrame([("w_hold",)], "entity_id string")
    accounts = spark.createDataFrame([("w_sound",)], "entity_id string")
    tree = [
        ("ArtCultureEntertainment", "Music", 0.0, "articles",
         ("music", "musician", "concert")),
        ("ArtCultureEntertainment", "Music", 0.0, "collectors",
         ("music", "musician")),
        ("ArtCultureEntertainment", "Gaming", 0.0, "articles",
         ("gaming", "gamer")),
        ("ArtCultureEntertainment", "Gaming", 0.0, "collectors",
         ("gaming", "gamer")),
        ("ArtCultureEntertainment", "Gaming", 0.0, "grants",
         ("gaming", "gamer")),
    ]
    got = {
        (r["entity_id"], r["context"])
        for r in interest_evidence_labels(
            pages, authors, nfts, owners, grants, grant_wallets,
            tree=tree,
            themed_holders=holders,
            themed_accounts=accounts,
            theme_context=("ArtCultureEntertainment", "Music", 0.0),
            collector_threshold=(
                "ArtCultureEntertainment", "WritingPublishing", 0.0, 2),
        ).collect()
    }
    assert got == {
        ("w_auth", "Music"),      # p1 'concert' → articles arm only
        ("w_auth", "Gaming"),     # p2, deduped across both page arms
        ("w_coll", "Gaming"),     # p2's NFT owner via the collector arm
        ("w_coll", "WritingPublishing"),  # 3 distinct articles ≥ 2
        ("w_donor", "Gaming"),    # grantTitle arm
        ("w_hold", "Music"),      # themed-holdings arm
        ("w_sound", "Music"),     # platform-account arm
    }
    # 'album' (bio-only keyword) and the one-article owner stay silent
    assert not {e for e, _ in got} & {"w_quiet", "w_one"}


def test_collector_labels_seeds_and_short_ens(spark):
    """Collectors tree (collectors/analyze.py:12-46): seed-list CASE over
    holdings + the 3-letter ENS predicate, weights from the tree."""
    from web3_knowledge_graph_spark.operators.wic import collector_labels

    holdings = spark.createDataFrame(
        [("w1", "0xBLUE"), ("w1", "0xother"), ("w2", "0xmusic"), ("w3", "0xwrite")],
        "entity_id string, token string",
    )
    ens = spark.createDataFrame(
        [("w4", "abc.eth"), ("w5", "name12.eth"), ("w6", "a1c.eth")],
        "entity_id string, name string",
    )
    got = {
        (r["entity_id"], r["context"]): r["weight"]
        for r in collector_labels(
            holdings, ens, ["0xblue"], ["0xwrite"], ["0xmusic"]
        ).collect()
    }
    assert got == {
        ("w1", "BlueChipNftCollector"): 0.85,
        ("w2", "Web3MusicCollector"): 0.8,
        ("w3", "Web3WritingCollector"): 0.8,
        ("w4", "ThreeLetterEnsName"): 0.25,
        ("w6", "ThreeLetterEnsName"): 0.25,
    }


def test_partition_modularity_two_triangles(spark):
    """Known closed form: two triangles joined by one bridge edge, the
    triangles as communities. m=7, 2m=14; per triangle in_c=6 (symmetrized),
    tot_c=7 → q_term = 6/14 − (7/14)² = 5/28; global Q = 5/14 ≈ 0.3571."""
    from web3_knowledge_graph_spark.operators.communities import (
        partition_modularity,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200), (6, 200)],
        "id long, community long",
    )
    rows = {r["community"]: r for r in partition_modularity(edges, labels).collect()}
    for c in (100, 200):
        assert rows[c]["n_members"] == 3
        assert rows[c]["internal_weight"] == 6
        assert rows[c]["total_degree"] == 7
        assert abs(rows[c]["q_term"] - 5 / 28) < 1e-12
    assert abs(sum(r["q_term"] for r in rows.values()) - 5 / 14) < 1e-12


def test_refine_partition_moves_bridge_node(spark):
    """Hand-traced Louvain phase-1 sweep on the two-triangle graph with
    node 3 misassigned to the right triangle: m2=14, deg(3)=3,
    g(left) = 14·2 − 3·4 = 16 > g(right) = 14·1 − 3·(10−3) = −7, so 3
    moves left; every other node's best community is its own. Global Q
    rises from 0.1224 to the optimum 5/14."""
    from web3_knowledge_graph_spark.operators.communities import (
        partition_modularity,
        refine_partition,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    wrong = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (4, 200), (5, 200), (6, 200)],
        "id long, community long",
    )
    refined = refine_partition(edges, wrong)
    got = {r["id"]: r["community"] for r in refined.collect()}
    assert got == {1: 100, 2: 100, 3: 100, 4: 200, 5: 200, 6: 200}

    q_before = sum(
        r["q_term"] for r in partition_modularity(edges, wrong).collect()
    )
    q_after = sum(
        r["q_term"] for r in partition_modularity(edges, refined).collect()
    )
    assert q_after > q_before
    assert abs(q_after - 5 / 14) < 1e-12


def test_refine_partition_fixed_point(spark):
    """Round-5 multi-sweep refinement: (a) on the two-triangle bridge
    graph one sweep reaches the fixed point, so the fixed-point result
    equals the single sweep and a further sweep is a no-op (the
    early-exit ≡ full-unroll equivalence the SQL oracle relies on);
    (b) on a graph where synchronous moves keep interacting, the
    fixed-point result still equals exactly max_sweeps unrolled
    refine_partition applications — the invariant that keeps the Spark
    side replayable by the sweeps-deep oracle unroll; (c) Q never drops
    below the single-sweep Q on the converging fixture."""
    from web3_knowledge_graph_spark.operators.communities import (
        partition_modularity,
        refine_partition,
        refine_partition_fixed_point,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    wrong = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (4, 200), (5, 200), (6, 200)],
        "id long, community long",
    )
    one = refine_partition(edges, wrong)
    fixed = refine_partition_fixed_point(edges, wrong, max_sweeps=3)
    as_map = lambda df: {r["id"]: r["community"] for r in df.collect()}  # noqa: E731
    assert as_map(fixed) == as_map(one) == {
        1: 100, 2: 100, 3: 100, 4: 200, 5: 200, 6: 200
    }
    # idempotence at the fixed point
    assert as_map(refine_partition(edges, fixed)) == as_map(fixed)
    q1 = sum(r["q_term"] for r in partition_modularity(edges, one).collect())
    qf = sum(r["q_term"] for r in partition_modularity(edges, fixed).collect())
    assert qf >= q1

    # interacting-moves fixture: a pendant pair (4, 5) mutually prefers
    # each other's singleton community, so synchronous sweeps oscillate —
    # the fixed-point result must still equal the plain 3-sweep unroll
    osc_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    osc_lab = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 400), (5, 500)],
        "id long, community long",
    )
    unrolled = osc_lab
    for _ in range(3):
        unrolled = refine_partition(osc_edges, unrolled)
    got = refine_partition_fixed_point(osc_edges, osc_lab, max_sweeps=3)
    assert as_map(got) == as_map(unrolled)


def _ring_of_triangles(n):
    """Ring of n triangles (nodes 3i..3i+2) bridged 3i+2 → 3(i+1) — the
    classic resolution-limit fixture: modularity's optimum merges WHOLE
    adjacent cliques, the move a node-level sweep cannot express."""
    edges = []
    for i in range(n):
        b = 3 * i
        edges += [(b, b + 1), (b, b + 2), (b + 1, b + 2), (b + 2, (b + 3) % (3 * n))]
    return edges


def test_louvain_coarse_stage_merges_whole_communities(spark):
    """Full multi-level Louvain (phase-2 contraction + gated coarse
    sweeps) on the ring of 12 triangles: LPA + the phase-1 fixed point
    stop at (near-)one-community-per-triangle (Q ≈ 0.6736), while the
    coarse stage merges adjacent triangles pairwise to the hand-computed
    optimum Q = 6·(14/96 − (16/96)²) = 17/24. Also asserts the monotone
    gate's contract — louvain Q ≥ phase-1 Q — and that the result is a
    strict coarsening (fewer communities, same node set)."""
    from web3_knowledge_graph_spark.operators.communities import (
        label_propagation,
        louvain_communities,
        partition_modularity,
        refine_partition_fixed_point,
    )

    edges = spark.createDataFrame(_ring_of_triangles(12), "src long, dst long")
    lpa = label_propagation(edges, rounds=4)
    fine = refine_partition_fixed_point(edges, lpa, max_sweeps=3)
    louv = louvain_communities(edges, rounds=4, max_sweeps=3, coarse_sweeps=3)
    q_of = lambda lab: sum(  # noqa: E731
        r["q_term"] for r in partition_modularity(edges, lab).collect()
    )
    q_fine, q_louv = q_of(fine), q_of(louv)
    assert q_louv > q_fine
    assert abs(q_louv - 17 / 24) < 1e-12
    rows = louv.collect()
    assert {r["id"] for r in rows} == set(range(36))
    n_fine = fine.select("community").distinct().count()
    assert len({r["community"] for r in rows}) == 6 < n_fine


def test_louvain_monotone_gate_and_oracle_replay(spark):
    """(a) Planted-cluster graph where LPA over-fragments: the coarse
    stage must recover strictly higher Q than the phase-1 fixed point,
    never lower (the exact-integer accept gate makes Q monotone by
    construction). (b) The generated louvain_oracle_sql replays the full
    Spark result bit-exactly on DuckDB — LPA unroll, phase-1 sweeps,
    contraction, parity gating, and the integer-gated coarse sweeps."""
    import random

    import duckdb

    from web3_knowledge_graph_spark.operators.communities import (
        louvain_communities,
        louvain_oracle_sql,
        partition_modularity,
        refine_partition_fixed_point,
        label_propagation,
    )

    rng = random.Random(7)
    edge_set = set()
    for c in range(6):  # 6 planted clusters of 10, weighted intra edges
        base = c * 10
        for _ in range(25):
            a, b = rng.sample(range(base, base + 10), 2)
            edge_set.add((min(a, b), max(a, b), rng.randint(1, 5)))
    for _ in range(20):  # noise
        a, b = rng.sample(range(60), 2)
        edge_set.add((min(a, b), max(a, b), 1))
    edges = sorted(edge_set)
    df = spark.createDataFrame(edges, "src long, dst long, w long")

    lpa = label_propagation(df, weight="w", rounds=4)
    fine = refine_partition_fixed_point(df, lpa, weight="w", max_sweeps=3)
    louv = louvain_communities(df, weight="w", rounds=4, max_sweeps=3, coarse_sweeps=3)
    q_of = lambda lab: sum(  # noqa: E731
        r["q_term"]
        for r in partition_modularity(df, lab, weight="w").collect()
    )
    assert q_of(louv) > q_of(fine)

    vals = ",".join(f"({a},{b},{w})" for a, b, w in edges)
    cte = (
        f"raw(src, dst, ww) AS (VALUES {vals}),\n"
        "e AS (SELECT a, b, CAST(SUM(w) AS BIGINT) AS w FROM (\n"
        "  SELECT src AS a, dst AS b, ww AS w FROM raw\n"
        "  UNION ALL SELECT dst, src, ww FROM raw) WHERE a <> b GROUP BY a, b)"
    )
    sql = louvain_oracle_sql(cte, rounds=4, sweeps=3, coarse_sweeps=3)
    oracle = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    got = sorted((r["id"], r["community"]) for r in louv.collect())
    assert got == oracle


def test_graph_wic_labels_each_rule_kind(spark):
    """One literal triple set exercising every GRAPH_WIC_TREE rule kind:
    exists (obj-label scoped), count-threshold, child-pred guard, and
    median benchmark (daoContributors / publicGoods / protocolPoliticians /
    developers cyphers restated)."""
    from web3_knowledge_graph_spark.operators.wic import graph_wic_labels

    W = [f"Wallet:0x{c * 40}" for c in "abcdef"]
    t = []
    # MultisigSigner: a IS_SIGNER; SnapshotAdmin: b CONTRIBUTOR→Space
    # (c CONTRIBUTOR→Repository must NOT match it, but is TechnicalContributor
    # and EcosystemDeveloper)
    t += [(W[0], "IS_SIGNER", "Wallet:0xm")]
    t += [(W[1], "CONTRIBUTOR", "Space:s1.eth")]
    t += [("Github:dev1", "CONTRIBUTOR", "Repository:org/r1")]
    t += [("Github:dev2", "OWNER", "Repository:org/r2")]
    # GitcoinGrantDonor: a donates to 3 grants (passes > 2), b to 1 (fails)
    t += [(W[0], "DONATION", f"Grant:g{i}") for i in range(3)]
    t += [(W[1], "DONATION", "Grant:g0")]
    # GitcoinGrantAdmin benchmark: admins a (1 grant) and b (3 grants);
    # benchmark set = IS_ADMIN|MEMBER_OF counts {a:1, b:3, m:2} → median 2
    t += [(W[0], "IS_ADMIN", "Grant:g0")]
    t += [(W[1], "IS_ADMIN", f"Grant:g{i}") for i in range(3)]
    t += [("GitcoinAccount:m", "MEMBER_OF", f"Grant:g{i}") for i in range(2)]
    # EngagedVoter: c votes on 11 proposals WITH a HAS_PROPOSAL parent,
    # d votes on 11 orphan proposals (guard drops them)
    t += [("Dao:dao1", "HAS_PROPOSAL", f"Proposal:p{i}") for i in range(11)]
    t += [(W[2], "VOTED", f"Proposal:p{i}") for i in range(11)]
    t += [(W[3], "VOTED", f"Proposal:orphan{i}") for i in range(11)]
    # ProposalAuthor benchmark: e authors 1, f authors 3 → median 2;
    # Web3Writer (creators): counts (1, 3) → 75th pct 2.5, only f fires
    t += [(W[4], "AUTHOR", "Proposal:p0")]
    t += [(W[5], "AUTHOR", f"Proposal:p{i}") for i in range(3)]
    # Delegate: f
    t += [(W[5], "IS_DELEGATE", "Delegation:compound")]
    # creators platform accounts: a is a Sound musician; b's Dune account
    # has follows (weight) > 0, c's has 0 — the property gate drops c
    acc = [(W[0], "HAS_ACCOUNT", "Sound:acct1", 0.0),
           (W[1], "HAS_ACCOUNT", "Dune:acct2", 3.0),
           (W[2], "HAS_ACCOUNT", "Dune:acct3", 0.0)]

    trip = spark.createDataFrame(
        [(*r, 1.0) for r in t] + acc,
        "subj string, pred string, obj string, weight double",
    )
    got = {
        (r.entity_id, r.context): (r.weight, r.metric)
        for r in graph_wic_labels(trip).collect()
    }
    assert got == {
        (W[0], "MultisigSigner"): (0.85, 1.0),
        (W[1], "SnapshotAdmin"): (0.85, 1.0),
        ("Github:dev1", "TechnicalContributor"): (0.925, 1.0),
        (W[0], "GitcoinGrantDonor"): (0.6, 3.0),
        (W[0], "GitcoinGrantAdmin"): (0.825, 0.5),   # 1 / median 2
        (W[1], "GitcoinGrantAdmin"): (0.825, 1.5),   # 3 / median 2
        (W[2], "EngagedVoter"): (0.5, 11.0),
        (W[4], "ProposalAuthor"): (0.6, 0.5),        # 1 / median 2
        (W[5], "ProposalAuthor"): (0.6, 1.5),        # 3 / median 2
        (W[5], "Delegate"): (0.7, 1.0),
        # round 5b: DaoAdmin (weight 0) counts b's one Space contribution;
        # the conflated 'EcosystemDeveloper' entry is gone (dev2's OWNER
        # row labels nothing; dev1 keeps TechnicalContributor above), and
        # the developers-side GitcoinBountyAdmin two-hop needs IS_OWNER
        # Bounty rows this fixture does not carry
        (W[1], "DaoAdmin"): (0.0, 1.0),
        # DuneAccount is the bare-existence rule — c's 0-follows account
        # counts here even though Web3DataAnalyst drops it
        (W[1], "DuneAccount"): (0.2, 1.0),
        (W[2], "DuneAccount"): (0.2, 1.0),
        # DuneWizard: follows values [0, 3] → q95 = 2.85, × .9 = 2.565;
        # only b's 3 clears the strict >
        (W[1], "DuneWizard"): (0.85, 1.0),
        (W[5], "Web3Writer"): (0.6, 3.0),            # 3 ≥ 75th pct 2.5
        (W[0], "Web3Musician"): (0.8, 1.0),
        (W[1], "Web3DataAnalyst"): (0.8, 1.0),       # follows 3 > 0; c's 0 drops
    }


def test_graph_wic_farmer_and_influencer_kinds(spark):
    """The seeded farmer kinds (negative weights) and the two-hop
    influencer count: seed-scoped child guard, quantile benchmark, seed
    membership, seeded-object deployment, NFT collector fan-in."""
    from web3_knowledge_graph_spark.operators.wic import graph_wic_labels

    W = [f"Wallet:0x{c * 40}" for c in "abcd"]
    tree = [
        ("GovernanceFarming", "SuspiciousSnapshot", -0.5,
         "subjects_child_seed", ("VOTED", "HAS_PROPOSAL", ("Dao:bad",))),
        ("MarketplaceFarming", "MirrorFarmer", -1.5,
         "count_ge_quantile", ("AUTHOR", "Proposal", 0.95, 1.25)),
        ("WashTrading", "NftWashTrading", -1.25, "seed_subjects", ((W[3],),)),
        ("Spammers", "SpamTokenDeployer", -2.0,
         "subjects_seed_obj", ("DEPLOYED", ("Contract:0xspam",))),
        ("PopularMirrorAuthor", "MirrorInfluencer", 0.9,
         "two_hop_count_gt", ("HAS_NFT", "IS_OWNER", 1)),
    ]
    t = []
    # a votes on p1 (bad dao's proposal) → suspicious; b votes on p2 (good dao)
    t += [("Dao:bad", "HAS_PROPOSAL", "Proposal:p1"),
          ("Dao:good", "HAS_PROPOSAL", "Proposal:p2"),
          (W[0], "VOTED", "Proposal:p1"), (W[1], "VOTED", "Proposal:p2")]
    # count_ge_quantile at q=0.5 (3 authors is too few for a q95 tail to
    # clear the ×1.25 margin): counts (1, 1, 6) → median 1, benchmark
    # 1 × 1.25 = 1.25 → only the 6-proposal author fires
    t += [(W[0], "AUTHOR", "Proposal:p1"), (W[1], "AUTHOR", "Proposal:p2")]
    t += [(W[2], "AUTHOR", f"Proposal:pp{i}") for i in range(6)]
    tree[1] = ("MarketplaceFarming", "MirrorFarmer", -1.5,
               "count_ge_quantile", ("AUTHOR", "Proposal", 0.5, 1.25))
    # d is a seeded wash trader present in the graph
    t += [(W[3], "TRANSFERRED", W[0])]
    # b deployed the seeded spam contract; a deployed a clean one
    t += [(W[1], "DEPLOYED", "Contract:0xspam"), (W[0], "DEPLOYED", "Contract:0xok")]
    # page1's NFTs held by 2 distinct owners (fires >1); page2 by 1 (no)
    t += [("Page:u1", "HAS_NFT", "Nft:n1"), ("Page:u1", "HAS_NFT", "Nft:n2"),
          (W[0], "IS_OWNER", "Nft:n1"), (W[1], "IS_OWNER", "Nft:n2"),
          ("Page:u2", "HAS_NFT", "Nft:n3"), (W[0], "IS_OWNER", "Nft:n3")]

    trip = spark.createDataFrame(t, "subj string, pred string, obj string")
    got = {
        (r.entity_id, r.context): (r.weight, r.metric)
        for r in graph_wic_labels(trip, tree=tree).collect()
    }
    assert got == {
        (W[0], "SuspiciousSnapshot"): (-0.5, 1.0),
        (W[2], "MirrorFarmer"): (-1.5, 6.0),
        (W[3], "NftWashTrading"): (-1.25, 1.0),
        (W[1], "SpamTokenDeployer"): (-2.0, 1.0),
        ("Page:u1", "MirrorInfluencer"): (0.9, 2.0),
    }


def test_graph_wic_publicgoods_tail_and_cosigners(spark):
    """The round-5 publicGoods tail (cyphers.py:59-191) and the farmers
    cosigner expansion (farmers/cyphers.py:115-137), hand-traced:
    paradigm name-CONTAINS seeding, dao-vote counting, incubator member /
    participant walks, the bounty-creator median benchmark, and the
    context copy to uncontexted multisig co-signers."""
    from web3_knowledge_graph_spark.operators.wic import (
        cosigner_buddies,
        cosigner_expansion,
        graph_wic_labels,
        paradigm_entities,
    )

    W = [f"Wallet:0x{c * 40}" for c in "abcdef"]
    tree = [
        ("Grants", "GrantsDao", 0.7,
         "count_paradigm", ("VOTED", "HAS_PROPOSAL", ("metacartel", "gitcoin"))),
        ("Incubators", "IncubatorMember", 1.25,
         "subjects_paradigm", ("VOTED", "HAS_PROPOSAL", ("seed club",))),
        ("Incubators", "IncubatorParticipant", 1.25,
         "subjects_incubated", ("VOTED", "HAS_PROPOSAL", "INCUBATED")),
        ("Bounties", "GitcoinBountyAdmin", 0.75,
         "benchmark_two_hop", ("IS_OWNER", "Bounty", "HAS_WALLET", "Wallet")),
        ("WashTrading", "NftWashTrading", -1.25, "seed_subjects", ((W[4],),)),
    ]
    t = []
    # paradigm entities by name-CONTAINS: 'Entity:metacartel dao' and
    # 'Entity:gitcoin' match the gdao seeds; 'Entity:seed club' the
    # incubator seed; 'Entity:other' matches none
    t += [("Entity:metacartel dao", "HAS_PROPOSAL", "Proposal:p1"),
          ("Entity:gitcoin", "HAS_PROPOSAL", "Proposal:p2"),
          ("Entity:seed club", "HAS_PROPOSAL", "Proposal:p3"),
          ("Entity:other", "HAS_PROPOSAL", "Proposal:p4"),
          ("Entity:incubated co", "HAS_PROPOSAL", "Proposal:p5")]
    # a votes on BOTH gdao proposals (metric 2), b on one (metric 1),
    # c only on the non-paradigm p4 (no label)
    t += [(W[0], "VOTED", "Proposal:p1"), (W[0], "VOTED", "Proposal:p2"),
          (W[1], "VOTED", "Proposal:p2"), (W[2], "VOTED", "Proposal:p4")]
    # b votes on the incubator's own proposal → member
    t += [(W[1], "VOTED", "Proposal:p3")]
    # seed club INCUBATED 'incubated co'; c votes on its proposal →
    # participant (and 'other' is NOT incubated, so p4 voters stay out)
    t += [("Entity:seed club", "INCUBATED", "Entity:incubated co"),
          (W[2], "VOTED", "Proposal:p5")]
    # bounty creators: gh1 owns 1 bounty → wallet d; gh2 owns 3 → wallet e;
    # median count 2 → metrics 0.5 and 1.5
    t += [("Github:gh1", "IS_OWNER", "Bounty:b0"),
          ("Github:gh1", "HAS_WALLET", W[3]),
          ("Github:gh2", "HAS_WALLET", W[4])]
    t += [("Github:gh2", "IS_OWNER", f"Bounty:b{i}") for i in range(1, 4)]
    # cosigners: e (a farmer via the seed rule) signs multisig m1 with f
    # (uncontexted → gains FarmerCosigner); d signs m2 alone (no farmer
    # on m2 → nothing); a farmer co-signing with another farmer adds none
    t += [(W[4], "IS_SIGNER", "Wallet:0xm1"), (W[5], "IS_SIGNER", "Wallet:0xm1"),
          (W[3], "IS_SIGNER", "Wallet:0xm2")]

    trip = spark.createDataFrame(t, "subj string, pred string, obj string")
    ents = {r.e for r in paradigm_entities(trip, ("metacartel", "gitcoin")).collect()}
    assert ents == {"Entity:metacartel dao", "Entity:gitcoin"}

    base = graph_wic_labels(trip, tree=tree)
    got = {
        (r.entity_id, r.context): (r.weight, r.metric)
        for r in base.collect()
    }
    assert got == {
        (W[0], "GrantsDao"): (0.7, 2.0),
        (W[1], "GrantsDao"): (0.7, 1.0),
        (W[1], "IncubatorMember"): (1.25, 1.0),
        (W[2], "IncubatorParticipant"): (1.25, 1.0),
        (W[3], "GitcoinBountyAdmin"): (0.75, 0.5),   # 1 / median 2
        (W[4], "GitcoinBountyAdmin"): (0.75, 1.5),   # 3 / median 2
        (W[4], "NftWashTrading"): (-1.25, 1.0),
    }

    cos = {
        (r.entity_id, r.context, r.weight)
        for r in cosigner_expansion(base, trip).collect()
    }
    # only f: e holds a farmer context and shares m1; d's GitcoinBountyAdmin
    # is NOT a farmer context, so m2 is untainted
    assert cos == {(W[5], "FarmerCosigner", -0.5)}
    buds = {
        (r.subj, r.pred, r.obj, r.context)
        for r in cosigner_buddies(base, trip).collect()
    }
    assert buds == {(W[5], "_HAS_CONTEXT_BUDDY", W[4], "FarmerCosigner")}


def test_graph_wic_developer_and_leadership_kinds(spark):
    """The round-5 developers / Leadership / DuneWizard rule kinds,
    hand-traced: object-endpoint labeling (has_github), unbenchmarked
    bounty two-hop (gitcoin_bounty_fulfill), thresholdless contribution
    count (connect_dao_admins, weight 0), the follows-quantile gate
    (get_dune_influencers), and the description-seeded SmartContractDev
    walk (is_smart_contract_dev)."""
    from web3_knowledge_graph_spark.operators.wic import (
        graph_wic_labels,
        smart_contract_dev_labels,
    )

    W = [f"Wallet:0x{c * 40}" for c in "abcd"]
    tree = [
        ("Web3Developers", "GithubAccount", 0.1, "objects",
         ("HAS_WALLET", "Github")),
        ("Web3Developers", "GitcoinBountyFulfill", 0.75, "subjects_two_hop",
         ("HAS_FULLFILLED", "Bounty", "HAS_WALLET")),
        ("Leadership", "DaoAdmin", 0.0, "count_gt", ("CONTRIBUTOR", "Space", 0)),
        # q=0.5/mult=1.0 keeps the hand-trace exact: median of follows
        # [1, 3, 5] = 3, strict > labels only the 5
        ("PopularMirrorAuthor", "DuneWizard", 0.85,
         "subjects_weight_gt_quantile", ("HAS_ACCOUNT", "Dune", 0.5, 1.0)),
    ]
    t = [
        # gh1 links wallet a and fulfilled a bounty → a gains both
        ("Github:gh1", "HAS_WALLET", W[0], 1.0),
        ("Github:gh1", "HAS_FULLFILLED", "Bounty:b1", 1.0),
        # gh2 links b but fulfilled nothing → GithubAccount only
        ("Github:gh2", "HAS_WALLET", W[1], 1.0),
        # gh3 fulfilled but has no wallet link → labels nothing
        ("Github:gh3", "HAS_FULLFILLED", "Bounty:b2", 1.0),
        # non-Github HAS_WALLET subject never mints GithubAccount
        ("Token:t1", "HAS_WALLET", W[3], 1.0),
        # c contributes to two spaces (metric 2), a to one (metric 1)
        (W[2], "CONTRIBUTOR", "Space:s1", 1.0),
        (W[2], "CONTRIBUTOR", "Space:s2", 1.0),
        (W[0], "CONTRIBUTOR", "Space:s1", 1.0),
        # Dune follows ride as edge weight: 1 / 3 / 5
        (W[0], "HAS_ACCOUNT", "Dune:d1", 1.0),
        (W[1], "HAS_ACCOUNT", "Dune:d2", 3.0),
        (W[2], "HAS_ACCOUNT", "Dune:d3", 5.0),
    ]
    trip = spark.createDataFrame(
        t, "subj string, pred string, obj string, weight double"
    )
    got = {
        (r.entity_id, r.context): (r.weight, r.metric)
        for r in graph_wic_labels(trip, tree=tree).collect()
    }
    assert got == {
        (W[0], "GithubAccount"): (0.1, 1.0),
        (W[1], "GithubAccount"): (0.1, 1.0),
        (W[0], "GitcoinBountyFulfill"): (0.75, 1.0),
        (W[0], "DaoAdmin"): (0.0, 1.0),
        (W[2], "DaoAdmin"): (0.0, 2.0),
        (W[2], "DuneWizard"): (0.85, 1.0),
    }
    # SmartContractDev: r1 is description-gated, r2 is not; only gh1's
    # wallet lands the label
    seeds = spark.createDataFrame([("Repository:org/r1",)], "r string")
    t2 = [
        ("Github:gh1", "CONTRIBUTOR", "Repository:org/r1", 1.0),
        ("Github:gh2", "SUBSCRIBER", "Repository:org/r2", 1.0),
        ("Github:gh1", "HAS_WALLET", W[0], 1.0),
        ("Github:gh2", "HAS_WALLET", W[1], 1.0),
    ]
    trip2 = spark.createDataFrame(
        t2, "subj string, pred string, obj string, weight double"
    )
    sc = {
        (r.entity_id, r.context, r.weight, r.metric)
        for r in smart_contract_dev_labels(trip2, seeds).collect()
    }
    assert sc == {(W[0], "SmartContractDev", 0.9, 1.0)}


def test_influencer_labels_and_twitter_fan_in(spark):
    """Influencers text arms (influencers/cyphers.py:32-106) and the
    TwitterInfluencer follower fan-in (cyphers.py:111-130), hand-traced:
    Twitter+Substack co-accounts, substack/newsletter strings gated to
    Twitter rows, the platform-blind podcast bio arm, podcast handles,
    podcast website urls, and the ≥k distinct follower-WALLET count."""
    from web3_knowledge_graph_spark.operators.wic import (
        graph_wic_labels,
        influencer_labels,
    )

    accounts = spark.createDataFrame(
        [
            # a has Twitter AND Substack accounts → SubstackWriter
            ("0xA", "Twitter", "user_1", 2, "web3 curious"),
            ("0xA", "Substack", "sub1", 0, "web3 curious"),
            # b: substack/newsletter bio on a Twitter row → SubstackWriter
            ("0xB", "Twitter", "user_2", 1, "writes a newsletter on substack"),
            # c: podcast HANDLE on Twitter → Podcaster
            ("0xC", "Twitter", "podcast_hour", 1, "web3 curious"),
            # d: podcast bio on a DUNE row → Podcaster (bio arm spans
            # platforms — the wicBios fulltext index)
            ("0xD", "Dune", "acct9", 3, "host of the onchain podcast"),
            # e: substack string on a DUNE row → NOT SubstackWriter (that
            # arm gates on twitter rows only)
            ("0xE", "Dune", "acct10", 3, "substack fan"),
        ],
        "address string, platform string, account_id string,"
        " follows bigint, bio string",
    )
    websites = spark.createDataFrame(
        [
            ("https://x.example/podcasts/feed", "0xF"),
            ("https://x.example/about", "0xG"),
        ],
        "website_url string, address string",
    )
    got = {
        (r.entity_id, r.context, r.weight)
        for r in influencer_labels(accounts, websites).collect()
    }
    assert got == {
        ("Wallet:0xa", "SubstackWriter", 0.3),
        ("Wallet:0xb", "SubstackWriter", 0.3),
        ("Wallet:0xc", "Podcaster", 0.3),
        ("Wallet:0xd", "Podcaster", 0.3),
        ("Wallet:0xf", "Podcaster", 0.3),
    }

    W = [f"Wallet:0x{c * 40}" for c in "abcde"]
    tree = [
        ("SocialMedia", "TwitterInfluencer", 0.95, "fan_in_count_ge",
         ("HAS_ACCOUNT", "Twitter", "FOLLOWS", 2)),
    ]
    t = [
        (W[0], "HAS_ACCOUNT", "Twitter:t_inf", 1.0),
        (W[1], "HAS_ACCOUNT", "Twitter:t_f1", 1.0),
        (W[2], "HAS_ACCOUNT", "Twitter:t_f2", 1.0),
        (W[3], "HAS_ACCOUNT", "Twitter:t_f3", 1.0),
        (W[4], "HAS_ACCOUNT", "Twitter:t_other", 1.0),
        # two wallet-backed followers → t_inf's wallet qualifies at k=2
        ("Twitter:t_f1", "FOLLOWS", "Twitter:t_inf", 1.0),
        ("Twitter:t_f2", "FOLLOWS", "Twitter:t_inf", 1.0),
        # t_other: one wallet-backed follower + one wallet-less follower
        # → count 1, below k
        ("Twitter:t_f3", "FOLLOWS", "Twitter:t_other", 1.0),
        ("Twitter:t_nowallet", "FOLLOWS", "Twitter:t_other", 1.0),
    ]
    trip = spark.createDataFrame(
        t, "subj string, pred string, obj string, weight double"
    )
    fan = {
        (r.entity_id, r.context): (r.weight, r.metric)
        for r in graph_wic_labels(trip, tree=tree).collect()
    }
    assert fan == {(W[0], "TwitterInfluencer"): (0.95, 1.0)}


def test_context_flow_labels(spark):
    """daoContributors TRANSFERRED-flow rules (cyphers.py:38-80),
    hand-traced: DaoFundingRecipient = target of an entity-linked
    wallet's >=5-transfer flow that itself has an account AND a prior
    context; DaoTreasuryFunder the reverse arrow; plus the propHouse
    Winner-proposal author arm (unconditional)."""
    from web3_knowledge_graph_spark.operators.wic import context_flow_labels

    W = [f"Wallet:0x{c * 40}" for c in "abcdefg"]
    t = []
    # a and b are Dune-entity-linked wallets; c/d/e have ordinary
    # accounts (Twitter) — so they pass the any-account gate but not the
    # entity gate; g has NO account at all
    t += [(W[0], "HAS_ACCOUNT", "Dune:acct1", 1.0),
          (W[1], "HAS_ACCOUNT", "Dune:acct2", 1.0),
          (W[2], "HAS_ACCOUNT", "Twitter:acct3", 1.0),
          (W[3], "HAS_ACCOUNT", "Twitter:acct4", 1.0),
          (W[4], "HAS_ACCOUNT", "Twitter:acct5", 1.0)]
    # flows out of the entity wallet a: →c (5 transfers, qualifies),
    # →d (4 transfers, below the gate), →g (6 transfers but no account)
    t += [(W[0], "TRANSFERRED", W[2], 5.0),
          (W[0], "TRANSFERRED", W[3], 4.0),
          (W[0], "TRANSFERRED", W[6], 6.0)]
    # flow INTO the entity wallet b from e (7 transfers) → treasury funder
    t += [(W[4], "TRANSFERRED", W[1], 7.0)]
    # c→d wallet flow with no entity endpoint: gates nothing
    t += [(W[2], "TRANSFERRED", W[3], 9.0)]
    # f authors the winning proposal, d the losing one
    t += [(W[5], "AUTHOR", "Proposal:pwin", 1.0),
          (W[3], "AUTHOR", "Proposal:plose", 1.0)]
    trip = spark.createDataFrame(
        t, "subj string, pred string, obj string, weight double"
    )
    # prior contexts: c and e are contexted; d is NOT (drops the
    # otherwise-qualifying flows through d)
    labels = spark.createDataFrame(
        [(W[2], "X", "SomeCtx", 1.0, 1.0), (W[4], "X", "SomeCtx", 1.0, 1.0)],
        "entity_id string, condition string, context string,"
        " weight double, metric double",
    )
    winners = spark.createDataFrame([("Proposal:pwin",)], "p string")
    got = {
        (r.entity_id, r.condition, r.context, r.weight, r.metric)
        for r in context_flow_labels(labels, trip, winners=winners).collect()
    }
    assert got == {
        (W[2], "DaoContributors", "DaoFundingRecipient", 0.9, 1.0),
        (W[4], "DaoContributors", "DaoTreasuryFunder", 0.75, 1.0),
        (W[5], "DaoContributors", "DaoFundingRecipient", 0.9, 1.0),
    }


def test_paradigm_seed_never_matches_label_prefix(spark):
    """CONTAINS runs against the entity NAME (after 'Entity:'), matching
    the reference's `e.name CONTAINS` — a seed that is a substring of
    the literal label prefix ('tity', 'Entity') must match nothing, not
    every entity; a name-substring seed still matches."""
    from web3_knowledge_graph_spark.operators.wic import paradigm_entities

    trip = spark.createDataFrame(
        [("Entity:metacartel dao", "HAS_PROPOSAL", "Proposal:p1"),
         ("Entity:gitcoin", "HAS_PROPOSAL", "Proposal:p2")],
        "subj string, pred string, obj string",
    )
    assert paradigm_entities(trip, ("tity",)).count() == 0
    assert paradigm_entities(trip, ("Entity",)).count() == 0
    got = {r.e for r in paradigm_entities(trip, ("cartel",)).collect()}
    assert got == {"Entity:metacartel dao"}


def test_context_flow_labels_bare_triples(spark):
    """A bare (subj, pred, obj) triple relation — legal input for every
    operator in the module — must not raise on the missing weight
    column: without nb_transfer evidence the >= gate passes no flows,
    while the weight-independent Winner-author arm still labels."""
    from web3_knowledge_graph_spark.operators.wic import context_flow_labels

    w_ent = "Wallet:0x" + "a" * 40
    w_dst = "Wallet:0x" + "b" * 40
    w_auth = "Wallet:0x" + "c" * 40
    trip = spark.createDataFrame(
        [(w_ent, "HAS_ACCOUNT", "Dune:acct1"),
         (w_dst, "HAS_ACCOUNT", "Twitter:acct2"),
         (w_ent, "TRANSFERRED", w_dst),
         (w_auth, "AUTHOR", "Proposal:pwin")],
        "subj string, pred string, obj string",
    )
    labels = spark.createDataFrame(
        [(w_dst, "X", "SomeCtx", 1.0, 1.0)],
        "entity_id string, condition string, context string,"
        " weight double, metric double",
    )
    winners = spark.createDataFrame([("Proposal:pwin",)], "p string")
    got = {
        (r.entity_id, r.context)
        for r in context_flow_labels(labels, trip, winners=winners).collect()
    }
    assert got == {(w_auth, "DaoFundingRecipient")}


def test_reputation_scores_signed(spark):
    """wicScore/analyze.py:16-30 compute_score, hand-traced. NOTE the
    reference quirk kept deliberately: deg/min for a NEGATIVE degree is a
    POSITIVE ratio (both operands negative), so the most-negative wallet
    scores +100 — magnitude-within-sign normalization, not a signed
    scale. Zero stays 0."""
    from web3_knowledge_graph_spark.operators.rules import reputation_scores_signed

    labels = spark.createDataFrame(
        [
            ("a", "X", 0.85), ("a", "Y", 0.65),   # degree +1.5  → max
            ("b", "X", 0.5),                       # degree +0.5
            ("c", "S", -2.0), ("c", "T", -1.0),    # degree -3.0  → min
            ("d", "S", -1.5),                      # degree -1.5
            ("e", "Z", 0.7), ("e", "W", -0.7),     # degree 0.0
        ],
        "entity_id string, context string, weight double",
    )
    got = {
        r.entity_id: (r.raw_score, r.reputation_score)
        for r in reputation_scores_signed(labels).collect()
    }
    assert got == {
        "a": (1.5, 100.0),
        "b": (0.5, 500 / 1500 * 100.0),
        "c": (-3.0, 100.0),                        # -3000 / -3000 × 100
        "d": (-1.5, 50.0),                         # -1500 / -3000 × 100
        "e": (0.0, 0.0),
    }


def test_profession_labels_bio_keywords(spark):
    """Bio-keyword professional rules (professionals/analyze.py:9-48):
    word-bounded matches, multi-context bios, case-blindness, the 'vc'
    whole-word gate, and dedup across a wallet's accounts."""
    from web3_knowledge_graph_spark.operators.wic import profession_labels

    rows = [
        ("0xA", "Co-Founder of a seed stage fund"),   # Founder + Investor
        ("0xB", "marketing and brand work"),           # Marketer
        ("0xC", "loves advocacy"),                     # no match ('vc' inside a word)
        ("0xD", "VC at heart"),                        # Investor (whole word)
        ("0xE", "community manager / devrel"),         # CommunityManager + DevRel
        ("0xA", "founder again, second account"),      # dedup with 0xA's first
    ]
    df = spark.createDataFrame(rows, "address string, bio string")
    got = {
        (r.entity_id, r.context): (r.condition, r.weight)
        for r in profession_labels(df).collect()
    }
    assert got == {
        ("Wallet:0xa", "Founder"): ("Positions", 0.0),
        ("Wallet:0xa", "Investor"): ("Positions", 0.0),
        ("Wallet:0xb", "Marketer"): ("Positions", 0.0),
        ("Wallet:0xd", "Investor"): ("Positions", 0.0),
        ("Wallet:0xe", "CommunityManager"): ("Positions", 0.0),
        ("Wallet:0xe", "DeveloperRelationsLead"): ("Positions", 0.0),
    }


def test_audience_edges_both_projections(spark):
    # one audience per matched context AND per matched condition
    # (audiences/cyphers.py:58-78); duplicate label rows collapse per
    # (wallet, audience, citation) exactly as MERGE does
    from web3_knowledge_graph_spark.operators.wic import audience_edges

    labels = spark.createDataFrame(
        [
            (7, "HighActivity", "PowerUsers", 5.0),
            (7, "HighActivity", "PowerUsers", 5.0),  # dup row
            (7, "BigSpender", "PowerUsers", 3.0),    # same context, new cond
            (9, "HighActivity", "ActiveUsers", 2.0),
        ],
        "entity_id long, condition string, context string, weight double",
    )
    got = {
        tuple(r)
        for r in audience_edges(labels)
        .select("subj_key", "pred", "obj_key")
        .collect()
    }
    assert got == {
        ("7", "IS_PART_OF", "PowerUsers"),
        ("7", "IS_PART_OF", "HighActivity"),
        ("7", "IS_PART_OF", "BigSpender"),
        ("9", "IS_PART_OF", "ActiveUsers"),
        ("9", "IS_PART_OF", "HighActivity"),
    }
