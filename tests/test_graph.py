"""pompspark.graph: connected components (large-star/small-star) and
integer-arithmetic PageRank, each pinned against an exact pure-python
oracle (union-find / floor-div power iteration)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pompspark.graph import (
    PR_SCALE,
    apply_host_priority,
    connected_components,
    dedup_survivors,
    host_rank_from_fetch_log,
    host_tiers,
    pagerank,
)


# ------------------------------------------------------------ oracles


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _pagerank_oracle(
    edges: list[tuple[int, int]], iters: int, damping_pct: int = 85
) -> dict[int, int]:
    edges = sorted(set(edges))
    nodes = sorted({u for e in edges for u in e})
    outdeg: dict[int, int] = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = PR_SCALE * (100 - damping_pct) // 100
    rank = {n: PR_SCALE for n in nodes}
    for _ in range(iters):
        mass = {n: 0 for n in nodes}
        for u, v in edges:
            mass[v] += rank[u] // outdeg[u]
        rank = {n: base + (damping_pct * mass[n]) // 100 for n in nodes}
    return rank


def _spark_edges(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )


# --------------------------------------------------------- components


@pytest.mark.parametrize("seed,n,m", [(1, 40, 30), (2, 80, 100), (3, 25, 60)])
def test_connected_components_random_vs_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    got = {
        r["id"]: r["component"]
        for r in connected_components(_spark_edges(spark, edges)).collect()
    }
    assert got == _union_find_components(edges)


def test_connected_components_chain_converges_logarithmically(spark):
    # a 64-node path is the adversarial case for min-label propagation
    # (O(n) rounds); the star algorithm must close it well under the
    # 50-round safety cap — and get the single component right.
    edges = [(i, i + 1) for i in range(63)]
    got = {
        r["id"]: r["component"]
        for r in connected_components(_spark_edges(spark, edges)).collect()
    }
    assert got == {i: 0 for i in range(64)}


def test_connected_components_self_loops_and_duplicates_ignored(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7)]
    got = {
        r["id"]: r["component"]
        for r in connected_components(_spark_edges(spark, edges)).collect()
    }
    # pure self-loop nodes carry no connectivity information: absent
    assert got == {1: 1, 2: 1}


def test_dedup_survivors_one_canonical_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    # clusters {0,1,2} and {5,6}; 3,4,7,8,9 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = dedup_survivors(docs, pairs).collect()
    comp = {r["doc_id"]: r["component"] for r in out}
    canon = {r["doc_id"]: r["is_canonical"] for r in out}
    assert comp == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 3: 3, 4: 4, 7: 7, 8: 8, 9: 9}
    assert [d for d, c in sorted(canon.items()) if c] == [0, 3, 4, 5, 7, 8, 9]
    # exactly one canonical per component
    per_comp: dict[int, int] = {}
    for r in out:
        per_comp[r["component"]] = per_comp.get(r["component"], 0) + int(r["is_canonical"])
    assert all(v == 1 for v in per_comp.values())


# ----------------------------------------------------------- pagerank


@pytest.mark.parametrize("seed,n,m,iters", [(11, 30, 90, 5), (12, 12, 20, 3)])
def test_pagerank_matches_integer_oracle_exactly(spark, seed, n, m, iters):
    rng = random.Random(seed)
    edges = list(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    )
    edges = [(a, b) for a, b in edges if a != b]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_spark_edges(spark, edges), iters=iters).collect()
    }
    assert got == _pagerank_oracle(edges, iters)  # bit-exact, not approx


def test_pagerank_authority_ordering(spark):
    # every node links to 0; 0 links to 1. The 0<->1 two-cycle makes
    # power iteration oscillate between them, so the period-robust
    # property is: both authority nodes far above the no-inlink tail,
    # which stays at exactly the base mass and is symmetric.
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    ranks = {
        r["node"]: r["rank"] for r in pagerank(_spark_edges(spark, edges), iters=10).collect()
    }
    assert min(ranks[0], ranks[1]) > 2 * ranks[2]
    assert len({ranks[i] for i in range(2, 6)}) == 1  # symmetric tail
    assert ranks[2] == PR_SCALE * 15 // 100  # base mass only


def test_host_tiers_and_frontier_priority(spark):
    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    tiers = host_tiers(pagerank(_spark_edges(spark, edges), iters=5), n_tiers=4)
    tier_of = {r["node"]: r["tier"] for r in tiers.collect()}
    assert tier_of[0] == 1 and tier_of[1] == 1  # authority hosts in tier 1
    assert max(tier_of.values()) == 4

    frontier = spark.createDataFrame(
        [(f"http://h{i}.example/", f"h{i}.example", 0, 0) for i in range(8)],
        "url string, host string, pri long, depth long",
    )
    hid = F.regexp_extract("host", r"h(\d+)\.example", 1).cast("long")
    out = apply_host_priority(frontier, tiers, hid, n_tiers=4)
    pri = {r["host"]: r["pri"] for r in out.collect()}
    # tier-1 hosts gained the biggest boost -> dequeue-first under
    # the engine's (pri DESC, ...) order; engine itself untouched
    assert pri["h0.example"] == 3 and pri["h1.example"] == 3
    assert min(pri.values()) >= 0
    tier_rank = sorted(set(pri.values()), reverse=True)
    assert pri["h0.example"] == tier_rank[0]


def test_tier_crawl_end_to_end(spark, tmp_path):
    """The full tier-crawl loop on the real engine: warm crawl ->
    host_rank_from_fetch_log -> host_tiers -> tier_priority_transform
    -> second crawl dequeues authority-host pages earlier, with the
    visited SET unchanged (re-prioritization must never lose pages)."""
    from pompspark.engine import simulated_engine
    from pompspark.fixtures import SMALL_SEED, small_pages_df
    from pompspark.graph import tier_priority_transform

    pages = small_pages_df(spark)
    e1 = simulated_engine(
        spark, str(tmp_path / "warm"), pages, ordering="bfs",
        per_round_budget=3, per_host_budget=10,
    )
    e1.seed([SMALL_SEED])
    e1.run(max_rounds=50)
    base_trace = [r.url for r in e1.trace().collect()]

    # link_edges reads the canonical children the extract pass wrote
    from pompspark.canon import host_of
    from pompspark.fixtures import SMALL_SITEMAP

    edges = sorted((r.host, tuple(r.links)) for r in e1.link_edges().collect())
    assert edges == sorted(
        (host_of(u), tuple(kids)) for u, kids in SMALL_SITEMAP.items()
    )
    ranks = host_rank_from_fetch_log(e1.link_edges(), iters=4)
    rank_map = {r["host"]: r["rank"] for r in ranks.collect()}
    # host graph of the fixture sitemap: a->b, a->c, b->c
    assert rank_map["c.example"] > rank_map["b.example"] > rank_map["a.example"]

    tiers = host_tiers(ranks, n_tiers=3)
    e2 = simulated_engine(
        spark, str(tmp_path / "tiered"), pages, ordering="bfs",
        per_round_budget=3, per_host_budget=10,
        frontier_transform=tier_priority_transform(tiers, n_tiers=3),
    )
    e2.seed([SMALL_SEED])
    e2.run(max_rounds=50)
    tiered_trace = [r.url for r in e2.trace().collect()]

    assert set(tiered_trace) == set(base_trace)
    assert len(tiered_trace) == len(base_trace)
    # authority hosts move up: b's first page to the front of round 2,
    # c's pages ahead of where the untiered BFS reached them
    assert tiered_trace[1] == "http://b.example/p0"
    assert tiered_trace.index("http://b.example/p0") < base_trace.index("http://b.example/p0")
    assert tiered_trace.index("http://c.example/p0") < base_trace.index("http://c.example/p0")
    # boosts stay within the child class: the seed is still first
    assert tiered_trace[0] == SMALL_SEED


def test_host_rank_from_fetch_log(spark):
    # real-crawl bridge: (host, links[]) rows -> host graph -> ranks.
    # b and c both link only to a; a links to b. Same shape as the
    # authority test, so a and b are the two high-rank hosts.
    rows = [
        ("a.example", ["http://b.example/p1", "http://b.example/p2"]),
        ("b.example", ["http://a.example/", "HTTP://A.EXAMPLE/x"]),
        ("c.example", ["http://a.example/y", "mailto:x@y"]),  # null-host href dropped
    ]
    fl = spark.createDataFrame(rows, "host string, links array<string>")
    got = {r["host"]: r["rank"] for r in host_rank_from_fetch_log(fl, iters=4).collect()}
    # edge set after host-dedup: a->b, b->a, c->a
    oracle_edges = [(0, 1), (1, 0), (2, 0)]  # a=0 b=1 c=2
    exp = _pagerank_oracle(oracle_edges, iters=4)
    assert got == {"a.example": exp[0], "b.example": exp[1], "c.example": exp[2]}
