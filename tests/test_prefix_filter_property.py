"""Property tests for the round-5 candidate-generation operators.

1. Prefix-filtered Jaccard join: on random token-set corpora (with
   forced near-duplicates, exact duplicates, and singleton docs) the
   operator's survivor set must EQUAL the brute-force all-pairs set at
   the same threshold — prefix filtering promises 100% recall, not
   approximate recall, so any missing pair is a bug.
2. BFS levels: on random bipartite graphs the per-node minimum distance
   must equal a driver-side reference BFS over the collected edge list.
"""

from __future__ import annotations

import random
from collections import deque

from pyspark.sql import functions as F

from boltzmannclean_spark.operators.dedup import (
    PF_DF_CAP,
    PF_THRESHOLD_DEN,
    PF_THRESHOLD_NUM,
)
from boltzmannclean_spark.plans.registry import all_queries

QUERIES = all_queries()


def _shingles(tokens):
    return {
        f"{a} {b} {c}" for a, b, c in zip(tokens, tokens[1:], tokens[2:])
    }


def _brute_force_pairs(doc_tokens):
    """Reference survivors over the CAPPED shingle universe — the
    operator's declared semantics (r13): shingles with document
    frequency > PF_DF_CAP are boilerplate, excluded before any pair
    math. On these random corpora the cap almost never binds (ordered
    trigrams from a 40-token vocab rarely co-occur 100+ times); the
    dedicated boilerplate trial below forces it to."""
    ids = sorted(doc_tokens)
    sh = {d: _shingles(t) for d, t in doc_tokens.items()}
    df: dict[str, int] = {}
    for s in sh.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    sh = {
        d: {g for g in s if df[g] <= PF_DF_CAP} for d, s in sh.items()
    }
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ta, tb = sh[a], sh[b]
            if not ta or not tb:
                continue
            inter = len(ta & tb)
            union = len(ta | tb)
            if PF_THRESHOLD_DEN * inter >= PF_THRESHOLD_NUM * union:
                out.add((a, b))
    return out


def test_prefix_filter_matches_brute_force(spark, tmp_path):
    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(40)]
    for trial in range(3):
        docs = {}
        doc_id = 0
        for _ in range(rng.choice([5, 40, 120])):
            base = rng.sample(vocab, rng.randint(3, 12))
            docs[doc_id] = base
            doc_id += 1
            if rng.random() < 0.4:  # forced near-duplicate
                mutated = list(base)
                if rng.random() < 0.5 and len(mutated) > 3:
                    mutated.pop(rng.randrange(len(mutated)))
                else:
                    mutated.append(rng.choice(vocab))
                docs[doc_id] = mutated
                doc_id += 1
            if rng.random() < 0.2:  # exact duplicate
                docs[doc_id] = list(base)
                doc_id += 1
        sf_dir = tmp_path / f"pf{trial}"
        sf_dir.mkdir()
        spark.createDataFrame(
            [
                (d, " ".join(toks), "en", "synthetic", len(" ".join(toks)))
                for d, toks in docs.items()
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(str(sf_dir / "documents.parquet"))
        got = {
            (r.doc_a, r.doc_b)
            for r in QUERIES["dedup_prefix_filter_jaccard"]
            .spark_fn(spark, str(sf_dir))
            .collect()
        }
        want = _brute_force_pairs(docs)
        assert got == want, (
            f"trial {trial}: missing={sorted(want - got)[:5]} "
            f"extra={sorted(got - want)[:5]}"
        )


def test_prefix_filter_df_cap_drops_boilerplate(spark, tmp_path):
    """The PF_DF_CAP hardening (r12 verdict #1), pinned end-to-end:
    a boilerplate-heavy corpus (every doc opens with the same 5-token
    banner, df ≈ 124 > cap 100) must (a) still complete with the
    banner trigrams excluded from the universe, (b) KEEP a pair whose
    similarity lives in rare tail shingles, (c) DROP a pair whose only
    similarity is the capped-out banner (uncapped Jaccard 1.0), and
    (d) report the drops in the dedup_prefix_filter_stats companion."""
    boiler = ["b0", "b1", "b2", "b3", "b4"]
    docs = {}
    for i in range(120):
        docs[i] = boiler + [f"u{i}x", f"u{i}y", f"u{i}z"]
    # (c) banner-only pair: every shingle is boilerplate once capped
    # (the documented trade-off — pure-banner docs are exact-dedup's
    # job, not a set-similarity join's).
    docs[200] = list(boiler)
    docs[201] = list(boiler)
    # (b) rare-tail pair: identical 6-token rare tails.
    tail = ["r1", "r2", "r3", "r4", "r5", "r6"]
    docs[300] = boiler + tail
    docs[301] = boiler + tail
    sf_dir = tmp_path / "pfcap"
    sf_dir.mkdir()
    spark.createDataFrame(
        [
            (d, " ".join(t), "en", "synthetic", len(" ".join(t)))
            for d, t in docs.items()
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(sf_dir / "documents.parquet"))

    got = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_prefix_filter_jaccard"]
        .spark_fn(spark, str(sf_dir))
        .collect()
    }
    assert got == _brute_force_pairs(docs)
    assert (300, 301) in got
    assert (200, 201) not in got

    stats = (
        QUERIES["dedup_prefix_filter_stats"]
        .spark_fn(spark, str(sf_dir))
        .collect()[0]
    )
    # The three interior banner trigrams exceed the cap in 122+ docs.
    assert stats.n_shingles_dropped == 3
    assert stats.n_entries_dropped >= 3 * PF_DF_CAP
    assert stats.max_prefix_block_width <= PF_DF_CAP
    assert stats.n_docs == len(docs)


def _reference_bfs(edges, start, max_level):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    dist = {start: 0}
    q = deque([start])
    while q:
        u = q.popleft()
        if dist[u] >= max_level:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_bfs_levels_match_reference(spark, sf_dir):
    from boltzmannclean_spark.operators.graph import (
        BFS_MAX_LEVEL,
        BFS_START,
        _cust_supp_edges,
    )

    ed = _cust_supp_edges(spark, sf_dir)
    edges = [(r.src, r.dst) for r in ed.select("src", "dst").collect()]
    want = _reference_bfs(edges, BFS_START, BFS_MAX_LEVEL)

    got = {}
    for r in QUERIES["graph_bfs_levels"].spark_fn(spark, sf_dir).collect():
        kind, _, num = r.node.partition(":")
        node = int(num) * 2 + (0 if kind == "c" else 1)
        got[node] = r.level
    assert got == want
