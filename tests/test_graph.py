"""Connected components (alternating large/small-star) vs a
pure-Python union-find reference, plus the dedup-cluster composition."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from fscrawler_spark.operators.graph import connected_components, dedup_clusters


def _union_find(edges):
    parent = {}

    def find(x):
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


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r["id"], r["component"])
        for r in connected_components(df, "src", "dst").collect()
    }


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(1234)
    for trial in range(4):
        n = rng.choice([30, 120])
        m = rng.randint(n // 2, 3 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        want = {(k, v) for k, v in _union_find(edges).items()}
        assert _cc(spark, edges) == want, f"trial {trial}"


def test_cc_long_chain_needs_multiple_rounds(spark):
    # a descending path 99-98-...-0: worst case for naive propagation,
    # exercises >1 alternation round
    edges = [(i + 1, i) for i in range(99)]
    assert _cc(spark, edges) == {(i, 0) for i in range(1, 100)} | {(0, 0)}


def test_cc_self_loops_and_duplicates_ignored(spark):
    edges = [(1, 1), (2, 3), (3, 2), (2, 3), (7, 7)]
    assert _cc(spark, edges) == {(2, 2), (3, 2)}


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df, "src", "dst").count() == 0


def test_cc_string_ids(spark):
    df = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], "src string, dst string"
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(df, "src", "dst").collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_dedup_clusters_singletons_and_canonicals(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3)], "id_a long, id_b long"
    )
    got = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(docs, "doc_id", pairs).collect()
    }
    assert got == {
        (0, 0, True),
        (1, 1, True), (4, 1, False), (6, 1, False),
        (2, 2, True), (3, 2, False),
        (5, 5, True), (7, 7, True),
    }


def test_cc_plan_is_jvm_side(spark):
    """No Python UDF anywhere in the CC plan — pure DataFrame ops."""
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = connected_components(df, "src", "dst")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- pagerank_scores (integer fixed-point) -------------------------------

def _ref_pagerank(edges, iters=3, num=85, den=100, scale=10**6):
    """Pure-Python reference with the same integer arithmetic."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    odeg = {}
    for s, _ in edges:
        odeg[s] = odeg.get(s, 0) + 1
    rank = {u: scale for u in nodes}
    base = scale * (den - num) // den
    for _ in range(iters):
        inmass = {u: 0 for u in nodes}
        for s, d in edges:
            inmass[d] += (rank[s] * num) // (den * odeg[s])
        rank = {u: base + inmass[u] for u in nodes}
    return rank


def _pr_edges():
    # 12 nodes: a hub (0), a chain, a 3-cycle, a dangling sink (11 has
    # in-edges only — its mass leaks, which the operator documents).
    e = [(0, i) for i in range(1, 6)]
    e += [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    e += [(6, 7), (7, 8), (8, 6)]
    e += [(1, 11), (9, 11), (10, 11), (9, 0), (10, 6)]
    return e


def test_pagerank_matches_integer_reference(spark):
    from fscrawler_spark.operators.graph import pagerank_scores

    edges = _pr_edges()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank_scores(df, iters=3).collect()}
    assert got == _ref_pagerank(edges, iters=3)


def test_pagerank_partitioning_invariant(spark):
    """Integer sums are order-independent: any repartitioning of the
    edge list yields bit-identical ranks."""
    from fscrawler_spark.operators.graph import pagerank_scores

    edges = _pr_edges()
    a = spark.createDataFrame(edges, "src long, dst long").repartition(7)
    b = spark.createDataFrame(list(reversed(edges)), "src long, dst long").coalesce(1)
    ra = sorted(pagerank_scores(a, iters=2).collect())
    rb = sorted(pagerank_scores(b, iters=2).collect())
    assert ra == rb


def test_pagerank_uniform_on_regular_cycle(spark):
    """On a k-regular cycle every node keeps the same rank: base +
    floor-divided share of its one predecessor."""
    from fscrawler_spark.operators.graph import pagerank_scores

    n = 6
    edges = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank_scores(df, iters=4).collect()}
    assert len(set(got.values())) == 1
    assert got[0] == _ref_pagerank(edges, iters=4)[0]


def test_pagerank_plan_is_jvm_side(spark):
    from fscrawler_spark.operators.graph import pagerank_scores

    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    plan = pagerank_scores(df, iters=1)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- resolve_redirect_chains (pointer doubling) -------------------------


def _resolve_py(edges):
    """Scalar reference: follow each src's chain to its terminal."""
    nxt = {}
    for s, d in edges:
        nxt[s] = min(d, nxt.get(s, d))
    out = {}
    for s in nxt:
        cur, hops = s, 0
        while cur in nxt:
            cur = nxt[cur]
            hops += 1
            assert hops <= len(nxt) + 1, "cycle in test input"
        out[s] = (cur, hops)
    return out


def _resolve_spark(spark, edges):
    from fscrawler_spark.operators.graph import resolve_redirect_chains

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["src"]: (r["final_dst"], r["hops"])
        for r in resolve_redirect_chains(df, "src", "dst").collect()
    }


def test_redirects_long_chain_exact_hops(spark):
    # one chain 0<-1<-2<-...<-20 (src i -> i-1), plus a detached edge
    edges = [(i, i - 1) for i in range(1, 21)] + [(100, 50)]
    got = _resolve_spark(spark, edges)
    assert got == _resolve_py(edges)
    assert got[20] == (0, 20)
    assert got[100] == (50, 1)


def test_redirects_random_dags_match_scalar(spark):
    rng = random.Random(77)
    for trial in range(3):
        n = rng.choice([40, 150])
        edges = []
        for s in range(1, n):
            if rng.random() < 0.6:
                edges.append((s, rng.randrange(s)))  # downhill => acyclic
        got = _resolve_spark(spark, edges)
        assert got == _resolve_py(edges), f"trial {trial}"


def test_redirects_duplicate_src_collapses_to_min_dst(spark):
    edges = [(5, 3), (5, 1), (3, 0)]
    got = _resolve_spark(spark, edges)
    # 5 -> min(3,1) = 1 (terminal), not through 3
    assert got[5] == (1, 1)
    assert got[3] == (0, 1)


def test_redirects_cycles_flagged_acyclic_rows_exact(spark):
    """A redirect loop ends as flagged rows, not an abort: sources on
    the 3-cycle 1->2->3->1 and on the tails 5->4->1 and 50->3 into it
    get cycle=true with null final_dst/hops; every acyclic chain
    (19 hops long, close to the 27-source bound) resolves exactly as
    the scalar walk does."""
    from fscrawler_spark.operators.graph import resolve_redirect_chains

    looping = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (50, 3)]
    acyclic = [(i, i - 1) for i in range(11, 30)] + [(40, 41), (42, 41)]
    df = spark.createDataFrame(looping + acyclic, "src long, dst long")
    rows = {
        r["src"]: (r["final_dst"], r["hops"], r["cycle"])
        for r in resolve_redirect_chains(df, "src", "dst").collect()
    }
    assert {s: v for s, v in rows.items() if v[2]} == {
        s: (None, None, True) for s, _ in looping
    }
    assert {
        s: (fd, h) for s, (fd, h, c) in rows.items() if not c
    } == _resolve_py(acyclic)
