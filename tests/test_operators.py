"""Operator unit tests: politeness window, bloom/anti-join dedup,
global rank, top-k (SURVEY §2.3-§2.6)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from fscrawler_spark.operators.bankstore import StoredBank
from fscrawler_spark.operators.dedup import (
    NumpyBloom,
    anti_join_seen,
    exact_duplicate_groups,
)
from fscrawler_spark.operators.politeness import politeness_take
from fscrawler_spark.operators.topk import global_row_number, top_k_per_group


def _fresh_urls(spark, n):
    return spark.range(n).select(
        F.concat(F.lit("http://fresh.example/q"), F.col("id").cast("string"))
        .alias("url")
    )


def _maybe_seen_share(bank, df):
    tagged = bank.probe(df, "url")
    return tagged.where(F.col("_maybe_seen")).count() / tagged.count()


def _frontier(spark, n_hosts=5, per_host=20, hot=200):
    rows = []
    for h in range(n_hosts):
        n = hot if h == 0 else per_host
        for i in range(n):
            rows.append((f"http://h{h}.x/p{i:04d}", f"h{h}.x", i % 3, i % 3))
    return spark.createDataFrame(
        rows, "url string, host string, depth int, priority int"
    )


def test_politeness_budget_and_determinism(spark):
    df = _frontier(spark)
    out = politeness_take(df, default_budget=4, salt_buckets=8)
    sched = out.where("scheduled")
    per_host = {r["host"]: r["n"] for r in sched.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert all(v == 4 for v in per_host.values())
    # deterministic: same call twice -> identical scheduled set
    a = {r["url"] for r in sched.collect()}
    b = {r["url"] for r in politeness_take(df, 4, salt_buckets=8).where("scheduled").collect()}
    assert a == b
    # salting must not change the selection (exactness of two-phase top-k)
    c = {r["url"] for r in politeness_take(df, 4, salt_buckets=1).where("scheduled").collect()}
    assert a == c
    # and equals the brute-force per-host (priority, url) top-4
    rows = df.collect()
    expect = set()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    for host, hrows in by_host.items():
        hrows.sort(key=lambda r: (r["priority"], r["url"]))
        expect |= {r["url"] for r in hrows[:4]}
    assert a == expect


def test_politeness_salted_truncation_conserves_rows(spark):
    """r01 advisory (high): phase-1 salted truncation must NOT drop rows
    from the returned frame — over-budget URLs on salted hosts stay
    present as scheduled=false (they become the next wave's frontier).
    The hot host (200 urls, salt 8, budget 4) forces real truncation:
    every (host,salt) bucket holds ~25 rows, phase 1 keeps <=4 each."""
    df = _frontier(spark)
    out = politeness_take(df, default_budget=4, salt_buckets=8)
    assert out.count() == df.count(), "politeness_take lost rows"
    all_urls = {r["url"] for r in df.collect()}
    sched = {r["url"] for r in out.where("scheduled").collect()}
    deferred = {r["url"] for r in out.where("NOT scheduled").collect()}
    assert sched | deferred == all_urls
    assert not (sched & deferred)
    # truncated rows carry NULL host_rank (never globally ranked); ranked
    # unscheduled rows carry a real rank > budget
    trunc_n = out.where("NOT scheduled AND host_rank IS NULL").count()
    assert trunc_n > 0, "fixture must actually truncate in phase 1"
    assert out.where("NOT scheduled AND host_rank IS NOT NULL AND host_rank <= 4").count() == 0


def test_politeness_host_budget_override(spark):
    df = _frontier(spark)
    budgets = spark.createDataFrame([("h0.x", 1)], "host string, tokens int")
    out = politeness_take(df, default_budget=3, host_budgets=budgets)
    got = {r["host"]: r["n"] for r in out.where("scheduled").groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert got["h0.x"] == 1
    assert got["h1.x"] == 3


def test_numpy_bloom_no_false_negatives():
    rng = np.random.default_rng(7)
    h1 = rng.integers(-(2**62), 2**62, 5000)
    h2 = rng.integers(-(2**31), 2**31, 5000)
    b = NumpyBloom.sized_for(5000, 0.01)
    b.add_hashes(h1, h2)
    assert b.might_contain(h1, h2).all()  # zero false negatives, ever
    # false-positive rate near spec on fresh hashes
    q1 = rng.integers(-(2**62), 2**62, 20000)
    q2 = rng.integers(-(2**31), 2**31, 20000)
    fpp = b.might_contain(q1, q2).mean()
    assert fpp < 0.05


def test_anti_join_with_bloom_equals_exact(spark, tmp_path):
    cand = spark.createDataFrame(
        [(f"http://h/{i}",) for i in range(500)], "url string"
    )
    seen = spark.createDataFrame(
        [(f"http://h/{i}",) for i in range(0, 500, 3)], "url string"
    )
    exact = {r["url"] for r in anti_join_seen(cand, seen).collect()}
    bloom = StoredBank.build(seen, "url", str(tmp_path / "bank"), n_items=200)
    two_tier = {r["url"] for r in anti_join_seen(cand, seen, bloom=bloom).collect()}
    assert two_tier == exact
    assert len(exact) == 333


def test_sharded_bloom_build_no_false_negatives(spark, tmp_path):
    """Distributed sharded bloom bank (the 10^10 deployment shape):
    every seen url probes maybe-seen, fresh urls stay near the spec
    fpp."""
    seen = spark.createDataFrame(
        [(f"http://s{i % 9}.example/p{i}",) for i in range(8000)], "url string"
    )
    bank = StoredBank.build(
        seen, "url", str(tmp_path / "bank"), n_items=8000, fpp=0.01, n_shards=8,
    )
    assert bank.n_shards == 8 and bank.bank_df(spark).count() == 8
    assert _maybe_seen_share(bank, seen) == 1.0, "sharded bloom false negative"
    assert _maybe_seen_share(bank, _fresh_urls(spark, 20000)) < 0.05


def test_global_row_number(spark):
    df = spark.createDataFrame(
        [(i % 7, f"u{i:04d}") for i in range(1000)], "priority int, url string"
    )
    out = global_row_number(df, ["priority", "url"], "rk", num_partitions=8)
    rows = out.collect()
    rows.sort(key=lambda r: (r["priority"], r["url"]))
    assert [r["rk"] for r in rows] == list(range(1, 1001))


def test_exact_duplicate_groups(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 2), ("c", 1), ("c", 9)],
        "hash string, size long",
    )
    got = {
        (r["hash"], r["size"]): r["dup_count"]
        for r in exact_duplicate_groups(df, "hash", "size").collect()
    }
    assert got == {("a", 1): 3}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [(g, v) for g in "ab" for v in range(10)], "g string, v int"
    )
    got = top_k_per_group(df, ["g"], [F.desc("v")], 3).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r["v"])
    assert sorted(by_g["a"], reverse=True) == [9, 8, 7]
    assert sorted(by_g["b"], reverse=True) == [9, 8, 7]


def test_simhash_semantics(spark):
    """SimHash: identical token sets collide (hamming 0); mostly-shared
    sets are near (small hamming); disjoint sets are far.  Also guards
    the signed-vote arithmetic (uint64 wrap would set ~all bits)."""
    from fscrawler_spark.operators.similarity import simhash64_agg, simhash_pairs
    from pyspark.sql import functions as F

    base = [f"tok{i}" for i in range(120)]
    near = base[:115] + [f"alt{i}" for i in range(5)]
    far = [f"other{i}" for i in range(120)]
    df = spark.createDataFrame(
        [(0, base), (1, list(base)), (2, near), (3, far)],
        "id long, tk array<string>",
    )
    hs = {r["id"]: r["sh"] for r in simhash64_agg(df, "id", F.col("tk")).collect()}
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert hs[0] == hs[1]
    assert ham(hs[0], hs[2]) <= 16  # 5/120 tokens changed -> near
    assert ham(hs[0], hs[3]) > 16  # disjoint -> far
    # bit balance sanity: a random-ish set should not be all-ones
    assert bin(hs[3] & ((1 << 64) - 1)).count("1") < 55

    # pigeonhole exactness: with `chunks` blocks the join finds EVERY
    # pair with hamming <= chunks-1 and verifies the rest away
    max_h, chunks = 7, 8
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(df, "id", F.col("tk"),
                                    max_hamming=max_h, chunks=chunks).collect()}
    assert pairs.get((0, 1)) == 0
    for a, b in [(0, 2), (1, 2), (0, 3), (2, 3), (1, 3)]:
        expected = ham(hs[a], hs[b]) <= max_h
        assert ((a, b) in pairs) == expected, (a, b)


def test_subtree_rollup(spark):
    """A1 — one-pass prefix rollup == recursive accumulation."""
    from fscrawler_spark.operators.rollup import subtree_rollup

    df = spark.createDataFrame(
        [("http://h.x/a/b/c.html", 10), ("http://h.x/a/d.html", 5),
         ("http://h.x", 2), ("http://g.x/z", 7)],
        "url string, size long",
    )
    got = {r["prefix"]: (r["total_bytes"], r["n_pages"], r["depth"])
           for r in subtree_rollup(df).collect()}
    assert got["http://h.x"] == (17, 3, 0)
    assert got["http://h.x/a"] == (15, 2, 1)
    assert got["http://h.x/a/b"] == (10, 1, 2)
    assert got["http://g.x"] == (7, 1, 0)
    assert got["http://g.x/z"] == (7, 1, 1)


def test_xspf_and_url_escape(spark):
    """S12/C10 — playlist sink + percent-encoding chain."""
    from fscrawler_spark.functions.sinks import to_xspf, url_escape

    df = spark.createDataFrame(
        [("http://h.x/my video's & \"best\".mp4",), ("http://h.x/b 100%.mp4",)],
        "url string",
    )
    esc = [r["e"] for r in df.select(url_escape(F.col("url")).alias("e")).collect()]
    assert "http://h.x/my%20video%27s%20%26%20%22best%22.mp4" in esc
    assert "http://h.x/b%20100%25.mp4" in esc
    doc = to_xspf(df)
    assert doc.startswith('<?xml version="1.0"')
    assert doc.count("<track>") == 2
    assert "xmlns=\"http://xspf.org/ns/0/\"" in doc


def test_results_to_json(spark):
    from fscrawler_spark.functions.sinks import results_to_json
    import json

    df = spark.createDataFrame([("u1", 3)], "url string, rating int")
    out = results_to_json(df, ["url", "rating"]).collect()[0]["json"]
    assert json.loads(out) == {"url": "u1", "rating": 3}


def test_anchor_text_rollup_reference(spark):
    """Counter reference on a hand graph: per-target in-degree,
    distinct anchors, and the (count desc, anchor asc) winner."""
    from collections import Counter

    from fscrawler_spark.operators.links import anchor_text_rollup

    edges = [
        (1, 10, "home"), (2, 10, "home"), (3, 10, "start"),
        (4, 10, "about"), (1, 20, "blog"), (2, 20, "news"),
        (3, 20, "news"), (4, 30, "x"),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, anchor string")
    got = {
        r["dst"]: (r["in_degree"], r["n_anchors"], r["top_anchor"], r["top_anchor_n"])
        for r in anchor_text_rollup(df, "dst", "anchor").collect()
    }
    want = {}
    by_dst = {}
    for _, d, a in edges:
        by_dst.setdefault(d, []).append(a)
    for d, anchors in by_dst.items():
        c = Counter(anchors)
        top, n = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[d] = (len(anchors), len(c), top, n)
    assert got == want
    assert got[20] == (3, 2, "news", 2)  # tie inside 20 broken by count


def test_anchor_text_rollup_tie_breaks_lexicographic(spark):
    from fscrawler_spark.operators.links import anchor_text_rollup

    df = spark.createDataFrame(
        [(1, 5, "beta"), (2, 5, "alpha")], "src long, dst long, anchor string"
    )
    row = anchor_text_rollup(df, "dst", "anchor").collect()[0]
    assert (row["top_anchor"], row["top_anchor_n"]) == ("alpha", 1)


def test_pack_sequences_matches_scalar_packer(spark):
    """Closed-form window packing == the scalar concatenate-then-chunk
    reference, including empty docs and bucket isolation."""
    from fscrawler_spark.operators.prep import pack_sequences

    docs = [
        (i, "w " * (i * 7 % 13) if i % 5 else "")  # some empty docs
        for i in range(40)
    ]
    cap, n_buckets = 10, 4
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in docs], "doc_id long, text string"
    )
    got = {
        (r["bucket"], r["seq_id"]): (
            r["n_docs"], r["tok_sum"], r["first_doc"], r["last_doc"]
        )
        for r in pack_sequences(
            df, "doc_id", "text", cap=cap, n_buckets=n_buckets
        ).collect()
    }
    # scalar reference
    want = {}
    by_bucket = {}
    for i, t in docs:
        by_bucket.setdefault(i % n_buckets, []).append((i, len(t.split())))
    for b, rows in by_bucket.items():
        off = 0
        for i, n in sorted(rows):
            seq = off // cap
            k = (b, seq)
            nd, ts, fd, ld = want.get(k, (0, 0, i, i))
            want[k] = (nd + 1, ts + n, min(fd, i), max(ld, i))
            off += n
    assert got == want


def _waterfill_py(demands, budget):
    """Canonical integer water level: largest L with sum(min(d,L)) <= B."""
    if sum(demands.values()) <= budget:
        return dict(demands)
    lo = 0
    while sum(min(d, lo + 1) for d in demands.values()) <= budget:
        lo += 1
    return {k: min(d, lo) for k, d in demands.items()}


def test_waterfill_matches_canonical_level(spark):
    from fscrawler_spark.operators.politeness import waterfill_budget
    import random

    rng = random.Random(9)
    cases = [
        ({"a": 1, "b": 5, "c": 5}, 9),
        ({"a": 1, "b": 5, "c": 5}, 10),   # sub-level remainder left over
        ({"a": 2, "b": 3, "c": 10}, 9),
        ({"a": 4}, 100),                  # all satisfied
        ({"a": 7, "b": 9}, 3),            # nobody satisfied
    ]
    for _ in range(4):
        n = rng.randint(2, 30)
        dm = {f"h{i}": rng.randint(1, 40) for i in range(n)}
        cases.append((dm, rng.randint(1, sum(dm.values()) + 10)))
    for dm, b in cases:
        df = spark.createDataFrame(list(dm.items()), "host string, demand long")
        got = {
            r["host"]: r["alloc"]
            for r in waterfill_budget(df, ["host"], "demand", b).collect()
        }
        want = _waterfill_py(dm, b)
        assert got == want, (dm, b, got, want)
        assert sum(got.values()) <= b or sum(dm.values()) <= b


def test_mixture_weights_hits_target_mass(spark):
    from fscrawler_spark.operators.prep import mixture_weights

    docs = [
        (0, "a b c d", "en"), (1, "a b", "en"), (2, "x y z", "de"),
        (3, "p q r s t u", "de"), (4, "m", "fr"), (5, "k l", "xx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    targets = {"en": 5000, "de": 3000, "fr": 2000}
    rows = {r["lang"]: r for r in mixture_weights(df, "lang", "text", targets).collect()}
    # a group without a target keeps its row and its tokens in the total
    xx = rows["xx"]
    assert (xx["n_docs"], xx["tok_sum"]) == (1, 2)
    assert xx["target_share_e4"] is None and xx["weight_e6"] is None
    assert xx["resampled_tok"] is None
    total = 4 + 2 + 3 + 6 + 1 + 2  # 18 tokens
    for lang, tok in [("en", 6), ("de", 9), ("fr", 1)]:
        w = targets[lang] * total * 100 // tok
        assert rows[lang]["weight_e6"] == w
        assert rows[lang]["tok_sum"] == tok
        assert rows[lang]["resampled_tok"] == tok * w // 10**6
        # resampled mass lands on the target share (floor error < 1 token)
        assert abs(rows[lang]["resampled_tok"] - targets[lang] * total // 10**4) <= 1


def test_yield_funnel_stages_are_nested_and_exact(spark):
    from fscrawler_spark.operators.prep import yield_funnel

    long = "tok " * 12
    docs = [
        (0, long.strip()),            # survives all stages
        (1, long.strip()),            # exact dup of 0 -> dropped at stage 2
        (2, "  " + long.upper().strip() + "  "),  # case/space jitter dup -> dropped
        (3, "too short"),             # dropped at stage 1
        (4, ""),                      # dropped at stage 1
        (5, ("uniq " * 15).strip()),  # survives
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["stage"]: (r["n_docs"], r["tok_sum"])
           for r in yield_funnel(df, "doc_id", "text", min_tokens=10).collect()}
    assert got["0_raw"] == (6, 12 * 3 + 2 + 0 + 15)
    assert got["1_minlen"] == (4, 12 * 3 + 15)
    assert got["2_exact_dedup"] == (2, 12 + 15)


def test_registered_domains_longest_match(spark):
    from fscrawler_spark.operators.links import registered_domains

    rows = [
        ("www.foo.example",),        # -> foo.example
        ("a.b.foo.example",),        # -> foo.example (deep subdomain)
        ("foo.co.example",),         # -> foo.co.example (multi-label suffix wins)
        ("x.foo.co.example",),       # -> foo.co.example
        ("co.example",),             # bare suffix -> null
        ("example",),                # bare suffix -> null
        ("FOO.Example",),            # case-folded -> foo.example
        ("unmatched.tld",),          # no suffix match -> null
    ]
    df = spark.createDataFrame(rows, "host string")
    got = {
        r["host"]: r["registered_domain"]
        for r in registered_domains(
            df, "host", ["example", "co.example"]
        ).collect()
    }
    assert got == {
        "www.foo.example": "foo.example",
        "a.b.foo.example": "foo.example",
        "foo.co.example": "foo.co.example",
        "x.foo.co.example": "foo.co.example",
        "co.example": None,
        "example": None,
        "FOO.Example": "foo.example",
        "unmatched.tld": None,
    }


def test_chunk_spans_reference_and_coverage(spark):
    from fscrawler_spark.operators.prep import chunk_spans
    import pytest as _pt

    docs = [(0, "w " * 100), (1, "w " * 24), (2, "w " * 25),
            (3, "w"), (4, ""), (5, "w " * 64)]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in docs], "doc_id long, text string"
    )
    rows = chunk_spans(df, "doc_id", "text", size=24, stride=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in docs:
        n = len(t.split())
        spans = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        # every token position < n is covered by some span
        covered = set()
        for r in spans:
            assert r["end_tok"] <= n and r["chunk_len"] == r["end_tok"] - r["start_tok"]
            covered |= set(range(r["start_tok"], r["end_tok"]))
        assert covered == set(range(n))
        # last chunk must reach n; chunk starts advance by exactly stride
        assert spans[-1]["end_tok"] == n
        assert [r["start_tok"] for r in spans] == [16 * k for k in range(len(spans))]
    assert len(by_doc[4]) == 1 and by_doc[4][0]["chunk_len"] == 0  # empty doc kept
    with _pt.raises(ValueError):
        chunk_spans(df, "doc_id", "text", size=0)


def test_segment_dedup_drops_boilerplate_and_rebuilds(spark):
    from hashlib import md5 as _md5

    from fscrawler_spark.operators.prep import segment_dedup

    boiler = "subscribe to our newsletter"  # appears in all docs
    docs = [(i, f"{boiler} unique{i} text{i} here{i} more{i}") for i in range(5)]
    docs.append((5, ""))  # empty doc stays in the report
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # seg_len=4: segment 0 is exactly the boilerplate (4 tokens),
    # shared by 5 docs > max_df=3 -> dropped everywhere
    got = {
        r["doc_id"]: (r["n_segs"], r["n_dropped"], r["rebuilt_md5"])
        for r in segment_dedup(df, "doc_id", "text", seg_len=4, max_df=3).collect()
    }
    for i in range(5):
        n_segs, n_dropped, h = got[i]
        assert (n_segs, n_dropped) == (2, 1)
        rebuilt = f"unique{i} text{i} here{i} more{i}"
        assert h == _md5(rebuilt.encode()).hexdigest()
    assert got[5] == (0, 0, _md5(b"").hexdigest())


def test_cdc_chunks_insertion_robustness(spark):
    """The CDC property fixed segmentation lacks: inserting one token at
    the front re-chunks only the neighborhood — every chunk after the
    first boundary is md5-identical between original and edited doc."""
    from fscrawler_spark.operators.prep import cdc_chunks

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    docs = [(0, base), (1, "INSERTED " + base)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = cdc_chunks(df, "doc_id", "text", window=3, divisor=4).collect()
    chunks = {0: [], 1: []}
    for r in rows:
        chunks[r["doc_id"]].append((r["chunk_id"], r["start_tok"],
                                    r["end_tok"], r["n_toks"], r["chunk_md5"]))
    for v in chunks.values():
        v.sort()
    # coverage + contiguity within each doc
    for i, t in docs:
        n = len(t.split())
        spans = chunks[i]
        assert spans[0][1] == 1 and spans[-1][2] == n
        for (a, b) in zip(spans, spans[1:]):
            assert b[1] == a[2] + 1
    # tail chunks identical: all but the first chunk of doc0 appear in doc1
    md5s0 = [c[4] for c in chunks[0]]
    md5s1 = set(c[4] for c in chunks[1])
    assert len(md5s0) >= 3
    shared = [m for m in md5s0[1:] if m in md5s1]
    assert len(shared) == len(md5s0) - 1, "CDC chunks after the first boundary must survive the insertion"


def test_waterfill_large_cardinality_matches_binary_search(spark):
    """20k hosts, ~2k distinct demand values through the level search —
    the scale path (distinct-value table) verified against an
    independent binary-search water level."""
    import random

    from fscrawler_spark.operators.politeness import waterfill_budget

    rng = random.Random(31)
    demands = {f"h{i}": rng.randint(1, 2000) for i in range(20_000)}
    total = sum(demands.values())
    budget = total // 3

    def mass(level):
        return sum(min(d, level) for d in demands.values())

    lo, hi = 0, max(demands.values())
    while lo < hi:  # largest L with mass(L) <= budget
        mid = (lo + hi + 1) // 2
        if mass(mid) <= budget:
            lo = mid
        else:
            hi = mid - 1
    want = {k: min(d, lo) for k, d in demands.items()}

    df = spark.createDataFrame(
        list(demands.items()), "host string, demand long"
    ).repartition(16)
    got = {
        r["host"]: r["alloc"]
        for r in waterfill_budget(df, ["host"], "demand", budget).collect()
    }
    assert got == want
    assert sum(got.values()) <= budget


def test_pack_sequences_property(spark):
    """Hypothesis-style randomized property (seeded trials): for random
    corpora, packing invariants hold — every doc lands in exactly one
    sequence, per-bucket token mass is conserved, every non-final
    sequence of a bucket starts within cap of the previous, and the
    assignment equals the scalar packer."""
    import random

    from fscrawler_spark.operators.prep import pack_sequences

    rng = random.Random(123)
    for trial in range(3):
        n = rng.randint(5, 120)
        cap = rng.choice([7, 16, 64])
        nb = rng.choice([2, 4, 8])
        docs = [(i, "t " * rng.randint(0, 3 * cap)) for i in range(n)]
        df = spark.createDataFrame(
            [(i, t.strip()) for i, t in docs], "doc_id long, text string"
        )
        got = {
            (r["bucket"], r["seq_id"]): (r["n_docs"], r["tok_sum"])
            for r in pack_sequences(
                df, "doc_id", "text", cap=cap, n_buckets=nb
            ).collect()
        }
        want = {}
        for b in range(nb):
            off = 0
            for i, t in sorted(docs):
                if i % nb != b:
                    continue
                ntok = len(t.split())
                k = (b, off // cap)
                nd, ts = want.get(k, (0, 0))
                want[k] = (nd + 1, ts + ntok)
                off += ntok
            assert sum(v[1] for kk, v in want.items() if kk[0] == b) == off
        assert got == want, (trial, cap, nb)
