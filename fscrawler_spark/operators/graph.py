"""Distributed connected components + dedup clustering.

The step the reference never needed (its processed-paths set fits one
process) but a 100 TB training-data pipeline always does: near-dup
PAIRS (MinHash/SimHash/embedding LSH) must become CLUSTERS before a
canonical document can be kept per group.  Pair output is a graph;
cluster assignment is connected components.

Algorithm: the alternating large-star / small-star method (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
O(log^2 n) rounds worst case, ~5 rounds in practice, each round a pair
of groupBy+join passes.  Chosen over label-propagation-until-stable
(O(diameter) rounds) and over GraphFrames (not a baked-in dependency)
because every primitive is a plain DataFrame op Catalyst can plan.

Scale notes (the reason for each shape below):
- per-node minima come from groupBy().min() + join-back, NEVER
  collect_list: min partial-aggregates map-side, so a mega-component's
  hub node (the skew case — one cluster of 10^8 boilerplate pages)
  never materializes a neighbor list on one task.
- every iteration ends in localCheckpoint(eager=True): the loop would
  otherwise stack O(iters) joins into one Catalyst plan (analysis time
  explodes, and the final job re-executes every round's shuffle).
- convergence is an EXACT set-equality check (counts + subtract on the
  slim 2-column frame), one extra job per round — no probabilistic
  hash-compare that could terminate early on an engineered input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list canonicalized to u > v, self-loops and
    duplicates dropped."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    return e.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to m = min(N(u) u {u}).

    Input/output orientation u > v.  Output stays oriented because the
    emitted pair (v, m) has m <= u < v.
    """
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of u (and u itself) to
    m = min(N_small(u) u {u}).  Input oriented u > v, so
    min(N_small(u) u {u}) is just min(v)."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    return (
        e.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """(id, component) for every node in `edges`, component = the
    MINIMUM node id in its connected component (deterministic label;
    works for any orderable id type).

    Alternating large-star/small-star until the edge set reaches its
    fixed point (a star forest rooted at component minima), checked
    exactly.  Raises RuntimeError if max_iters rounds don't converge
    (the algorithm's proven bound is O(log^2 n) rounds — 50 covers any
    input this engine can hold).
    """
    e = _canon_edges(edges, src, dst).localCheckpoint(eager=True)
    for _ in range(max_iters):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        same_size = e2.count() == e.count()
        if same_size and e2.subtract(e).isEmpty():
            e = e2
            break
        e = e2
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_iters} rounds")
    # fixed point is a star forest: u -> root; roots appear only as v
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("id"), F.col("v").alias("component"))
        )
        .distinct()
    )


def pagerank_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-point (integer) PageRank over a link graph: (id, rank).

    Crawl-frontier prioritization (the OPIC/PageRank tier of a
    production crawler — Cho et al. 1998; Abiteboul et al. WWW 2003
    for the online variant).  The reference crawler walks local
    filesystems and never ranks its frontier; a web-scale tier needs
    link-derived priority, so this follows the published recipe.

    ALL arithmetic is 64-bit integer on a ``scale`` grid (default
    micro-ranks): rank_0 = scale; each round every edge (s, d) carries
    ``(rank(s) * damping_num) DIV (damping_den * outdeg(s))`` to d, and
    ``rank(d) = scale*(den-num) DIV den + sum(contribs)``.  Integer
    sums are order- and partition-independent, so the result is
    bit-identical across runs, partitionings, and engines — float
    PageRank cannot be oracle-checked byte-for-byte, this can (q42).
    Dangling-node mass leaks (no redistribution), the standard
    simplification; totals shrink, ORDER is what a frontier consumes.
    Overflow headroom: rank <= scale * |V|, so int64 holds through
    damping multiply up to |V| ~ 1e11 at the default scale.

    Scale shape: per round ONE join of edges against the (id, rank)
    table plus a map-side-combined sum keyed on dst — no collect, no
    per-node lists; localCheckpoint per round keeps the Catalyst plan
    flat (same reasoning as connected_components above).  outdeg is
    computed once, joined per round.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    nodes = (
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = e.groupBy("s").agg(F.count("*").alias("odeg"))
    ew = e.join(out, "s").localCheckpoint(eager=True)  # (s, d, odeg), reused per round
    base = scale * (damping_den - damping_num) // damping_den
    ranks = nodes.select("id", F.lit(int(scale)).cast("long").alias("rank"))
    for _ in range(iters):
        contribs = (
            ew.join(ranks, ew["s"] == ranks["id"])
            .select(
                F.col("d").alias("id"),
                F.expr(
                    f"(rank * CAST({damping_num} AS BIGINT))"
                    f" DIV (CAST({damping_den} AS BIGINT) * odeg)"
                ).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inmass"))
        )
        ranks = (
            nodes.join(contribs, "id", "left")
            .select(
                "id",
                (F.lit(int(base)).cast("long") + F.coalesce(F.col("inmass"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def resolve_redirect_chains(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Resolve HTTP-redirect chains to their terminal URL by pointer
    doubling: (src, final_dst, hops, cycle) for every redirecting
    source.

    The crawl-frontier step between fetch and dedup: a web crawl sees
    3xx chains (http → https → www → canonical) and must collapse every
    chain to its terminal target BEFORE URL-seen checks, or the same
    page is fetched once per alias.  The reference's filesystem walk
    has the single-hop analogue (symlinks, resolved inline by the OS at
    `os.path.realpath`); at web scale the chain is data, so resolution
    is a graph computation.

    ``edges`` must be a functional mapping — at most one out-edge per
    ``src`` (a URL redirects to exactly one place); duplicate sources
    are collapsed deterministically to min(dst) first.  A source whose
    chain never terminates (it lies on a redirect loop or leads into
    one) comes back flagged: ``cycle`` true, ``final_dst`` and ``hops``
    null.  Every other row has ``cycle`` false.

    Algorithm: pointer jumping (the classic PRAM list-ranking step —
    f := f∘f each round), so a chain of length L resolves in ceil(log2
    L) rounds, NOT L rounds: each round is ONE equi-join of the mapping
    against itself on the chain key plus a coalesce — no collect, no
    driver state, and `hops` accumulates exactly (rank doubling carries
    the jumped-over count).  At 10^10 frontier URLs with redirect
    chains bounded by ~30 hops, that is 5 shuffle rounds over only the
    REDIRECTING rows (non-redirects never enter), each partitioned on
    the id key; localCheckpoint per round keeps the Catalyst plan flat
    (same reasoning as connected_components above).

    Termination: a terminating chain visits each of the n collapsed
    sources at most once, so it has at most n hops.  A non-terminating
    one advances every round and doubles its hops, so it passes n
    within ceil(log2(n+1)) rounds.  The loop stops once no row still
    at or below n hops advances — every chain at or below the bound has
    then converged, and exactly the rows past it never will.
    """
    cur = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("c"))
        .groupBy("s")
        .agg(F.min("c").alias("c"))
        .select("s", "c", F.lit(1).cast("long").alias("hops"))
        .localCheckpoint(eager=True)
    )
    bound = F.lit(cur.count())
    while True:
        rhs = cur.select(
            F.col("s").alias("rs"),
            F.col("c").alias("rc"),
            F.col("hops").alias("rhops"),
        )
        step = (
            cur.join(rhs, cur["c"] == rhs["rs"], "left")
            .select(
                "s",
                F.coalesce(F.col("rc"), F.col("c")).alias("c"),
                (F.col("hops") + F.coalesce(F.col("rhops"), F.lit(0))).alias("hops"),
                F.col("rs").isNotNull().alias("adv"),
            )
            .localCheckpoint(eager=True)  # ONE execution of the round's join
        )
        cur = step.drop("adv")
        if step.where(F.col("adv") & (F.col("hops") <= bound)).isEmpty():
            break
    cycle = F.col("hops") > bound
    return cur.select(
        F.col("s").alias(src),
        F.when(~cycle, F.col("c")).alias("final_dst"),
        F.when(~cycle, F.col("hops")).alias("hops"),
        cycle.alias("cycle"),
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster assignment for EVERY row of `df` from a near-dup pair
    list: (id_col, cluster_id, is_canonical).  Rows in no pair are
    their own singleton cluster; the canonical member of a cluster is
    its minimum id (deterministic keep-policy — swap in a quality-score
    argmax downstream if preferred).

    The components frame is bounded by the paired-node count (<< |df|
    after LSH), so the label join broadcasts when small; Catalyst/AQE
    picks the strategy from the actual size.
    """
    cc = connected_components(pairs, id_a, id_b)
    return (
        df.select(F.col(id_col))
        .join(cc, df[id_col] == cc["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
            (
                F.coalesce(F.col("component"), F.col(id_col)) == F.col(id_col)
            ).alias("is_canonical"),
        )
    )
