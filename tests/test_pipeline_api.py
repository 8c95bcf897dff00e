"""Public parameterized API (boltzmannclean_spark.pipeline) — the r6
verdict's item 5: flagship LLM-pipeline operators as documented
library functions with user-settable thresholds, importable straight
from the package root, while the registry queries instantiate the same
code (their parity is pinned by tests/test_oracle_parity.py).

These tests exercise the knobs the registry does NOT: custom column
names, custom thresholds, and semantic behavior of each parameter on
hand-built data where the expected answer is computable by eye.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from boltzmannclean_spark import (
    bm25_topk,
    cosine_topk,
    exact_dedup,
    minhash_dedup,
    quality_filter,
    semantic_dedup,
    sessionize,
    substring_dedup,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),  # near dup of 1
        (4, "totally different content entirely here now"),
    ]
    return spark.createDataFrame(rows, "id long, body string")


def test_exact_dedup_custom_columns(docs):
    out = exact_dedup(docs, id_col="id", text_col="body").collect()
    assert {r.keep_id: r.n_copies for r in out} == {1: 2, 3: 1, 4: 1}
    assert sorted(out[0].asDict()) == ["keep_id", "n_copies", "text_hash"]


def test_minhash_dedup_threshold_knob(docs):
    # exact duplicate always survives any threshold
    strict = minhash_dedup(
        docs, id_col="id", text_col="body", threshold=0.999
    ).collect()
    assert [(r.id, r.dup_of) for r in strict] == [(2, 1)]
    # loosening the threshold lets the 5/7-token near-dup through too
    loose = minhash_dedup(
        docs, id_col="id", text_col="body", threshold=0.5
    ).collect()
    assert (3, 1) in [(r.id, r.dup_of) for r in loose]


@pytest.mark.parametrize(
    "n_hashes,band_rows",
    [(8, -2), (8, 0), (0, 2), (7, 2)],
    ids=["8x-2", "8x0", "0x2", "7x2"],
)
@pytest.mark.parametrize(
    "fn", ["minhash_dedup", "incremental_minhash_dedup"]
)
def test_minhash_dedup_validates_banding(docs, fn, n_hashes, band_rows):
    # A negative band_rows once passed the divisibility check and built
    # no bands (every duplicate silently dropped); zero divided by zero.
    from boltzmannclean_spark import pipeline

    args = (docs,) if fn == "minhash_dedup" else (docs, F.col("id") > 2)
    with pytest.raises(ValueError):
        getattr(pipeline, fn)(
            *args, id_col="id", text_col="body", n_hashes=n_hashes,
            band_rows=band_rows,
        )


def test_minhash_dedup_wide_signature(docs):
    # 16 hashes x 4 rows/band still finds the exact dup — the md5-slice
    # minhash generalizes beyond the registry's 8x2 fixture config.
    out = minhash_dedup(
        docs, id_col="id", text_col="body", n_hashes=16, band_rows=4,
        threshold=0.9,
    ).collect()
    assert [(r.id, r.dup_of, r.jaccard) for r in out] == [(2, 1, 1.0)]


def test_substring_dedup_ngram_and_min_run(spark):
    span = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, span + " xx yy"), (2, "aa bb " + span), (3, "zz qq rr ss tt")],
        "doc long, txt string",
    )
    out = substring_dedup(
        df, id_col="doc", text_col="txt", ngram=3, min_run=2
    ).collect()
    assert len(out) == 1 and (out[0].doc_a, out[0].doc_b) == (1, 2)
    assert out[0].longest_match_tokens == 10
    # raising min_run beyond the span's run length suppresses the pair
    none = substring_dedup(
        df, id_col="doc", text_col="txt", ngram=3, min_run=9
    ).collect()
    assert none == []


def test_cosine_topk_k_knob(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vid long, vec array<double>",
    )
    out = cosine_topk(
        corpus,
        corpus.where(F.col("vid") == 0),
        id_col="vid",
        vec_col="vec",
        label_col=None,
        k=3,
    ).collect()
    assert len(out) == 3
    assert all(r.query_id == 0 for r in out)
    # query [0,1]: cosine decreases with i, so top-3 neighbors are 1,2,3
    assert [r.neighbor_id for r in out] == [1, 2, 3]
    assert [r.rk for r in out] == [1, 2, 3]


def test_cosine_topk_zero_vector_matches_oracle(spark):
    # A zero vector has no direction. DuckDB evaluates its 0.0/0.0
    # cosine to NULL, which ranks last under cosine DESC; the Spark
    # path must return the same rows, bit for bit, with and without
    # the unrolled dot (under ANSI mode a plain division raised
    # DIVIDE_BY_ZERO instead).
    import duckdb

    from boltzmannclean_spark.operators.similarity import (
        N_QUERY,
        SIM_TOPK_ORACLE,
        TOP_K,
    )

    rows = [
        (0, [0.5, 0.5], 1),
        (1, [0.0, 0.0], 0),
        (2, [1.0, 0.0], 1),
        (3, [0.25, -1.0], 2),
        (4, [-1.0, 0.5], 0),
        (5, [0.0, 2.0], 2),
        (6, [1.5, 1.0], 1),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INTEGER)"
    )
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)
    want = con.execute(SIM_TOPK_ORACLE).fetchall()
    assert any(r[3] is None for r in want)

    def canon(rs):
        return [
            tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rs
        ]

    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    for dims in (None, 2):
        got = cosine_topk(
            emb, emb.where(F.col("vec_id") < N_QUERY), k=TOP_K, dims=dims
        ).collect()
        assert canon(got) == canon(want), dims


def test_semantic_dedup_any_dimensionality(spark):
    # 8-dim corpus in two clusters seeded by ids 0 and 100 (the vec_ids
    # divisible by the seed modulus). Within a cluster the members sit
    # at cosine 0.8 of each other, except docs 2 and 4, which differ
    # by one small component: the only pair above theta.
    def vec(*entries):
        v = [0.0] * 8
        for i, x in entries:
            v[i] = x
        return v

    rows = [
        (0, vec((0, 1.0))),
        (1, vec((0, 1.0), (3, 0.5))),
        (2, vec((0, 1.0), (5, 0.5))),
        (3, vec((0, 1.0), (4, 0.5))),
        (4, vec((0, 1.0), (5, 0.5), (6, 0.01))),
        (100, vec((1, 1.0))),
        (101, vec((1, 1.0), (3, 0.5))),
        (102, vec((1, 1.0), (7, 0.5))),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    results = [
        sorted(tuple(r) for r in semantic_dedup(emb, theta=0.99, dims=d).collect())
        for d in (None, 8)
    ]
    assert results[0] == results[1]
    (a, b) = results[0]
    assert (a[0], a[2], b[0], b[2]) == (2, False, 4, True)
    assert a[1] == b[1]  # same cell
    assert a[3] == b[3] > 0.99


def test_bm25_topk_custom_terms(docs):
    out = bm25_topk(
        docs, ["alpha", "content"], id_col="id", text_col="body", k=2
    ).collect()
    assert len(out) == 2
    assert all(r.n_terms_hit == 1 for r in out)
    with pytest.raises(ValueError):
        bm25_topk(docs, [], id_col="id", text_col="body")


def test_quality_filter_custom_bounds(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "a b")],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in quality_filter(
            df, id_col="id", min_tokens=3, min_stop_frac=0.1
        ).collect()
    }
    assert out[1].keep and out[1].ok_length and out[1].ok_stopwords
    assert not out[2].ok_length  # 2 tokens < min_tokens=3
    # n_chars derived from length(text) when no n_chars column exists
    assert out[1].n_tokens == 5


def test_sessionize_gap_knob(spark):
    base = 1_700_000_000_000_000  # µs
    rows = [
        (7, 1, base),
        (7, 2, base + 5 * 60_000_000),  # +5 min
        (7, 3, base + 26 * 60_000_000),  # +21 min after event 2
    ]
    ev = spark.createDataFrame(
        [(u, e, t) for u, e, t in rows], "uid long, eid long, t_us long"
    ).select("uid", "eid", F.timestamp_micros("t_us").alias("when"))
    one = sessionize(
        ev, user_col="uid", ts_col="when", event_id_col="eid",
        value_col=None, gap_minutes=30,
    ).collect()
    assert [(r.session_idx, r.n_events) for r in one] == [(0, 3)]
    two = sessionize(
        ev, user_col="uid", ts_col="when", event_id_col="eid",
        value_col=None, gap_minutes=10,
    ).collect()
    assert [(r.session_idx, r.n_events) for r in two] == [(0, 2), (1, 1)]
    assert "sum_value" not in two[0].asDict()


def test_language_id_custom_ngram_and_columns(spark):
    from boltzmannclean_spark import language_id

    df = spark.createDataFrame(
        [
            (1, "hello world", "en"),
            (2, "bonjour le monde", "fr"),
            (3, "hello there", "en"),
            (4, "le monde entier", "fr"),
        ],
        "id long, body string, lg string",
    )
    out = language_id(
        df, id_col="id", text_col="body", lang_col="lg", ngram=2,
        profile_top_k=5,
    ).collect()
    assert all(r.correct == 1 for r in out)
    assert {r.predicted_lang for r in out} == {"en", "fr"}


def test_token_stats_custom_ratio(spark):
    from boltzmannclean_spark import token_stats

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a b c")], "id long, body string"
    )
    out = {
        r.id: r
        for r in token_stats(
            df, id_col="id", text_col="body", bpe_chars_per_token=2
        ).collect()
    }
    assert out[1].ws_tokens == 2 and out[1].approx_bpe_tokens == 6
    assert out[2].ws_tokens == 3 and out[2].n_spaces == 2


def test_api_tolerates_empty_corpus(spark):
    """Every pipeline function must return an EMPTY result — never
    crash — on an empty input (the short-doc shingle crash class,
    checked fleet-wide): a scheduled run on a day with no new data is
    routine, not exceptional. The MinHash pair also gets a one-doc
    corpus and a corpus whose every text is NULL: no pair, no error."""
    from boltzmannclean_spark import (
        bm25_topk,
        cosine_topk,
        exact_dedup,
        language_id,
        minhash_dedup,
        quality_filter,
        semantic_dedup,
        sessionize,
        substring_dedup,
        token_stats,
    )

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, value double"
    )
    from boltzmannclean_spark.pipeline import incremental_minhash_dedup

    one = spark.createDataFrame(
        [(1, "alpha beta gamma", "en")], "doc_id long, text string, lang string"
    )
    nulls = spark.createDataFrame(
        [(1, None, "en"), (2, None, "en")],
        "doc_id long, text string, lang string",
    )
    assert exact_dedup(docs).count() == 0
    for corpus in (docs, one, nulls):
        assert minhash_dedup(corpus).count() == 0
        for is_new in (F.col("doc_id") > 1, F.lit(True)):
            assert incremental_minhash_dedup(corpus, is_new).count() == 0
    assert substring_dedup(docs).count() == 0
    assert quality_filter(docs).count() == 0
    assert token_stats(docs).count() == 0
    assert language_id(docs).count() == 0
    assert bm25_topk(docs, ["anything"]).count() == 0
    assert sessionize(ev).count() == 0
    assert cosine_topk(emb, emb, label_col=None).count() == 0
    assert semantic_dedup(emb).count() == 0


def _brute_bands(docs, n_hashes, band_rows):
    """Python replication of the deterministic md5-slice MinHash
    signature and its LSH band keys, for arbitrary (n_hashes,
    band_rows): (token sets, {doc: [(band, band_key), ...]})."""
    import hashlib

    vocab = {d: set(t.split(" ")) for d, t in docs.items()}

    def mh(d, s):
        return min(
            hashlib.md5(f"{s // 4}|{tok}".encode()).hexdigest()[
                8 * (s % 4) : 8 * (s % 4) + 8
            ]
            for tok in vocab[d]
        )

    sigs = {d: [mh(d, s) for s in range(n_hashes)] for d in docs}
    keys = {
        d: [
            (b, "".join(sigs[d][b * band_rows + r] for r in range(band_rows)))
            for b in range(n_hashes // band_rows)
        ]
        for d in docs
    }
    return vocab, keys


def _jaccard(vocab, a, b):
    inter = len(vocab[a] & vocab[b])
    return inter / (len(vocab[a]) + len(vocab[b]) - inter)


def _brute_minhash(docs, n_hashes, band_rows, threshold):
    """Representative dedup over ``_brute_bands``: each doc against its
    buckets' min-id representatives, smallest verified one wins."""
    vocab, keys = _brute_bands(docs, n_hashes, band_rows)
    buckets = {}
    for d in sorted(docs):
        for key in keys[d]:
            buckets.setdefault(key, []).append(d)
    out = {}
    for d in sorted(docs):
        candidates = {min(buckets[key]) for key in keys[d]} - {d}
        for rep in sorted(c for c in candidates if c < d):
            jac = _jaccard(vocab, d, rep)
            if jac >= threshold:
                out[d] = (rep, jac)
                break  # smallest dup_of wins (rn=1 over dup_of asc)
    return out


def _brute_incremental(docs, new, n_hashes, band_rows, threshold):
    """Incremental dedup over ``_brute_bands``: each new doc against the
    min id over the corpus (not-new) docs sharing any of its buckets."""
    vocab, keys = _brute_bands(docs, n_hashes, band_rows)
    bucket_min = {}
    for d in docs:
        if d not in new:
            for key in keys[d]:
                bucket_min[key] = min(bucket_min.get(key, d), d)
    out = {}
    for d in sorted(new):
        reps = [bucket_min[key] for key in keys[d] if key in bucket_min]
        if reps:
            jac = _jaccard(vocab, d, min(reps))
            if jac >= threshold:
                out[d] = (min(reps), jac)
    return out


def _planted_corpus():
    """40 random docs over a 120-word vocabulary plus 12 planted
    near-dups (copies with at most one token swapped)."""
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(120)]
    docs = {}
    for d in range(40):
        docs[d] = " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 30)))
    for d in range(40, 52):
        src = rng.randrange(40)
        toks = docs[src].split(" ")
        if rng.random() < 0.7 and len(toks) > 3:
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs[d] = " ".join(toks)
    return docs


def _assert_same_dups(got, want, label):
    assert set(got) == set(want), (
        f"{label}: "
        f"missing={sorted(set(want) - set(got))[:5]} "
        f"extra={sorted(set(got) - set(want))[:5]}"
    )
    for d in got:
        assert got[d][0] == want[d][0], (d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-12


def test_minhash_dedup_matches_brute_force_generalized(spark, tmp_path):
    """The banding generalization (any n_hashes x band_rows, not just
    the registry's 8x2) must agree with a Python brute-force replication
    of the identical deterministic algorithm on a random corpus with
    planted near-duplicates."""
    docs = _planted_corpus()
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    for n_hashes, band_rows, theta in [(8, 2, 0.9), (16, 4, 0.5), (12, 3, 0.7)]:
        got = {
            r.doc_id: (r.dup_of, r.jaccard)
            for r in minhash_dedup(
                df, n_hashes=n_hashes, band_rows=band_rows, threshold=theta
            ).collect()
        }
        want = _brute_minhash(docs, n_hashes, band_rows, theta)
        _assert_same_dups(got, want, f"{n_hashes}x{band_rows}@{theta}")


def test_incremental_minhash_dedup_matches_brute_force(spark):
    """``incremental_minhash_dedup`` away from the registry's 8x2
    banding agrees with the brute-force replication: the planted
    near-dups and every fifth original doc form the new batch."""
    from boltzmannclean_spark.pipeline import incremental_minhash_dedup

    docs = _planted_corpus()
    new = {d for d in docs if d >= 40 or d % 5 == 0}
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    is_new = (F.col("doc_id") >= 40) | (F.col("doc_id") % 5 == 0)
    for n_hashes, band_rows, theta in [(16, 4, 0.5), (12, 3, 0.7)]:
        got = {
            r.doc_id: (r.dup_of, r.jaccard)
            for r in incremental_minhash_dedup(
                df, is_new, n_hashes=n_hashes, band_rows=band_rows,
                threshold=theta,
            ).collect()
        }
        want = _brute_incremental(docs, new, n_hashes, band_rows, theta)
        assert want, "the planted near-dups must be found"
        _assert_same_dups(got, want, f"{n_hashes}x{band_rows}@{theta}")


# ---------------------------------------------------------------------------
# ANN lifecycle public API (ann.py; r7 verdict item 4): a NON-fixture
# configuration — 12-dim vectors, pq_m=3 blocks, pq_k=4 codes, 3 IVF
# cells, default smallest-id seeding — built into a tmp dir and
# searched, with the ADC result verified against a numpy brute-force
# over the PERSISTED artifacts (so the check is independent of the
# Spark scoring plan).


@pytest.fixture(scope="module")
def ann_fixture(spark, tmp_path_factory):
    import random

    from boltzmannclean_spark import build_ann_index

    rng = random.Random(8)
    rows = [
        (100 + i, [round(rng.uniform(-1, 1), 3) for _ in range(12)])
        for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vid long, vec array<float>")
    out = str(tmp_path_factory.mktemp("annidx") / "idx")
    import os

    os.makedirs(out, exist_ok=True)
    path = build_ann_index(
        vecs,
        out,
        dims=12,
        id_col="vid",
        vec_col="vec",
        pq_m=3,
        pq_k=4,
        pq_iters=2,
        n_cells=3,
        kmeans_iters=2,
        # _brute_adc replicates RAW-coordinate ADC in numpy; pin raw
        # (IVF builds default to residual since the r14 measurement).
        residual=False,
    )
    return path, rows


def _brute_adc(path, rows, query_ids, k, exclude_self=True):
    """numpy ADC replication straight off the persisted parquet:
    LUT[q][b][cid] = ||qsub - cvec||^2 in micro units; score(q, v) =
    sum_b LUT[q][b][codes[v][b]]; top-k by (score, neighbor_id)."""
    import json as _json
    import os

    import numpy as np
    import pyarrow.parquet as pq

    conf = _json.load(open(os.path.join(path, "meta.json")))["conf"]
    micro, dsub = conf["micro"], conf["pq_dsub"]
    cb = pq.read_table(os.path.join(path, "codebook")).to_pydict()
    cvec = {
        (b, c): np.array(v, dtype=np.int64)
        for b, c, v in zip(cb["b"], cb["cid"], cb["cvec"])
    }
    ct = pq.read_table(os.path.join(path, "codes")).to_pydict()
    codes = {}
    for i, b, c in zip(ct["id"], ct["b"], ct["cid"]):
        codes.setdefault(i, {})[b] = c
    qv = {
        vid: np.round(np.array(v, dtype=np.float64) * micro).astype(np.int64)
        for vid, v in rows
    }
    out = {}
    for q in query_ids:
        scores = []
        for v in codes:
            if exclude_self and v == q:
                continue
            s = 0
            for b in sorted(codes[v]):
                qsub = qv[q][b * dsub : (b + 1) * dsub]
                d = qsub - cvec[(b, codes[v][b])]
                s += int((d * d).sum())
            scores.append((s, v))
        out[q] = sorted(scores)[:k]
    return out


def test_ann_search_matches_brute_force_adc(spark, ann_fixture):
    from boltzmannclean_spark import ann_search

    path, rows = ann_fixture
    queries = spark.createDataFrame(rows[:4], "vid long, vec array<float>")
    got = ann_search(
        spark, path, queries, k=5, id_col="vid", vec_col="vec"
    ).collect()
    want = _brute_adc(path, rows, [r[0] for r in rows[:4]], k=5)
    for r in got:
        s, v = want[r.query_id][r.rk - 1]
        assert (r.adc_dist, r.neighbor_id) == (s, v), (
            r.query_id,
            r.rk,
            (r.adc_dist, r.neighbor_id),
            (s, v),
        )


def test_ann_search_probe_all_cells_equals_full_scan(spark, ann_fixture):
    """nprobe = n_cells must return exactly the full-scan result —
    probing every cell covers every candidate, so IVF pruning is
    recall-lossless at the limit (the invariant that makes nprobe a
    pure efficiency knob)."""
    from boltzmannclean_spark import ann_search

    path, rows = ann_fixture
    queries = spark.createDataFrame(rows[:3], "vid long, vec array<float>")
    full = ann_search(
        spark, path, queries, k=4, id_col="vid", vec_col="vec"
    ).collect()
    probed = ann_search(
        spark, path, queries, k=4, nprobe=3, id_col="vid", vec_col="vec"
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, probed))


def test_ann_search_exclude_self_knob(spark, ann_fixture):
    from boltzmannclean_spark import ann_search

    path, rows = ann_fixture
    queries = spark.createDataFrame(rows[:2], "vid long, vec array<float>")
    with_self = ann_search(
        spark, path, queries, k=1, id_col="vid", vec_col="vec",
        exclude_self=False,
    ).collect()
    # A corpus member's nearest neighbor including itself is itself:
    # ADC distance vs its own codes is the minimum possible for its
    # code assignment (and neighbor_id ties break to the smaller id —
    # but distance 0-vs-own-codes is not guaranteed, so assert rank-1
    # is never WORSE than the self row).
    for r in with_self:
        assert r.rk == 1
    without = ann_search(
        spark, path, queries, k=1, id_col="vid", vec_col="vec",
        exclude_self=True,
    ).collect()
    for a, b in zip(sorted(with_self), sorted(without)):
        assert a.adc_dist <= b.adc_dist


def test_ann_build_validates_dims(spark, ann_fixture):
    from boltzmannclean_spark import ann_search, build_ann_index

    vecs = spark.createDataFrame(
        [(1, [0.0] * 10)], "vid long, vec array<float>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        build_ann_index(vecs, "/tmp/never", dims=10, pq_m=3)
    path, _rows = ann_fixture
    q = spark.createDataFrame([(1, [0.0] * 12)], "vid long, vec array<float>")
    # nprobe on a no-IVF index must raise, not silently full-scan: build
    # a PQ-only index in a fresh dir.
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        vecs12 = spark.createDataFrame(
            [(i, [float(i)] * 12) for i in range(8)],
            "vid long, vec array<float>",
        )
        p = build_ann_index(
            vecs12, d, dims=12, id_col="vid", vec_col="vec", pq_m=3, pq_k=2
        )
        with pytest.raises(ValueError, match="nprobe"):
            ann_search(spark, p, q, id_col="vid", vec_col="vec", nprobe=1)


@pytest.mark.parametrize(
    "build",
    [
        dict(n_cells=3, residual=False),
        dict(n_cells=3, residual=True),
        dict(),
    ],
    ids=["raw_ivfpq", "residual", "pure_pq"],
)
def test_ann_build_and_search_on_empty_corpus(spark, tmp_path, build):
    """An empty corpus builds an empty index (meta ``n == 0``) that
    searches to zero rows, for every build kind."""
    import json
    import os

    from boltzmannclean_spark import ann_search, build_ann_index

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    path = build_ann_index(emb, str(tmp_path), dims=12, pq_m=3, pq_k=4, **build)
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["n"] == 0
    nprobe = 1 if build else None
    assert ann_search(spark, path, emb, k=5, nprobe=nprobe).count() == 0


# ---------------------------------------------------------------------------
# round-8 session 2 API: perplexity_buckets / sprt_monitor / grid_knn_join /
# holt_smooth with NON-fixture parameters, checked against brute-force
# Python references.
# ---------------------------------------------------------------------------

from boltzmannclean_spark import (  # noqa: E402
    grid_knn_join,
    holt_smooth,
    perplexity_buckets,
    sprt_monitor,
)


def test_perplexity_buckets_quartiles_custom_columns(spark):
    rows = [
        (i, "xx", " ".join(["common"] * 5 + [f"rare{i}"])) for i in range(8)
    ] + [(100 + i, "yy", f"solo{i} common") for i in range(4)]
    df = spark.createDataFrame(rows, "did long, language string, body string")
    out = perplexity_buckets(
        df, id_col="did", text_col="body", lang_col="language", n_buckets=4
    ).collect()
    got = {(r.did): (r.lang, r.bucket) for r in out}
    assert len(got) == 12
    # each xx doc: 5x"common"(freq 44... actually common appears 5*8+4 times)
    # bucket mechanics: 8 xx docs over 4 buckets = 2 each, deterministic.
    xx_buckets = [b for (lang, b) in got.values() if lang == "xx"]
    assert sorted(xx_buckets) == [1, 1, 2, 2, 3, 3, 4, 4]
    yy_buckets = [b for (lang, b) in got.values() if lang == "yy"]
    assert sorted(yy_buckets) == [1, 2, 3, 4]
    # identical scores within xx -> ntile ties broken by ascending id:
    # lowest ids land in bucket 1.
    xx_sorted = sorted(
        [(did, b) for did, (lang, b) in got.items() if lang == "xx"]
    )
    assert [b for _, b in xx_sorted] == [1, 1, 2, 2, 3, 3, 4, 4]


def test_sprt_monitor_brute_force_parity(spark):
    import math

    # Deterministic pseudo-random walk: success when md5 parity says so.
    rows = [(i % 3, i, (i * 2654435761) % 97 < 60) for i in range(300)]
    df = spark.createDataFrame(rows, "arm int, seq long, hit boolean")
    out = sprt_monitor(
        df,
        arm_col="arm",
        order_cols=("seq",),
        success="hit",
        p0=0.5,
        p1=0.7,
        alpha=0.1,
        beta=0.1,
    ).collect()
    la, lb = math.log(0.7 / 0.5), math.log((1.0 - 0.7) / (1.0 - 0.5))
    up, lo = math.log((1.0 - 0.1) / 0.1), math.log(0.1 / (1.0 - 0.1))
    by_arm = {}
    for arm, seq, hit in sorted(rows, key=lambda r: (r[0], r[1])):
        n, k, llr, done = by_arm.get(arm, (0, 0, 0.0, None))
        if done:
            continue
        n, k = n + 1, k + int(hit)
        llr = k * la + (n - k) * lb
        decision = None
        if llr >= up:
            decision = "accept_h1"
        elif llr <= lo:
            decision = "accept_h0"
        by_arm[arm] = (n, k, llr, decision)
    for r in out:
        n, k, llr, decision = by_arm[r.arm]
        assert r.decision == (decision or "continue")
        assert (r.n_at_decision, r.k_at_decision) == (n, k)


def test_grid_knn_join_matches_brute_force(spark):
    import itertools

    pts = [(i, (i * 37) % 100, (i * 61) % 100) for i in range(40)]
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    # cell=200 > coordinate span: every point in ONE cell, so the 3x3
    # neighborhood covers everything and grid kNN == exact kNN.
    out = grid_knn_join(
        df, id_col="pid", x_col="px", y_col="py", cell=200, k=2
    ).collect()
    for qid, qx, qy in pts:
        exact = sorted(
            (
                ((qx - x) ** 2 + (qy - y) ** 2, nid)
                for nid, x, y in pts
                if nid != qid
            )
        )[:2]
        got = sorted(
            ((r.d2, r.nbr_id) for r in out if r.pid == qid)
        )
        assert got == exact, f"query {qid}"


def test_holt_smooth_alpha_beta_knobs(spark):
    rows = [(1, f"s{i:02d}", float(v)) for i, v in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, "k long, step string, v double")
    out = holt_smooth(
        df, key_col="k", step_col="step", y_col="v", alpha=1.0, beta=0.0
    ).collect()
    # alpha=1: level tracks y exactly; beta=0: trend stays at init 0.
    assert [r.level for r in out] == [10.0, 20.0, 30.0, 40.0]
    assert [r.trend for r in out] == [0.0, 0.0, 0.0, 0.0]
    assert [r.forecast_next for r in out] == [10.0, 20.0, 30.0, 40.0]
    out2 = holt_smooth(
        df, key_col="k", step_col="step", y_col="v", alpha=0.5, beta=0.5
    ).collect()
    # brute-force the recurrence
    l, b = 10.0, 0.0
    expect = [(l, b)]
    for y in [20.0, 30.0, 40.0]:
        ln = 0.5 * y + 0.5 * (l + b)
        b = 0.5 * (ln - l) + 0.5 * b
        l = ln
        expect.append((l, b))
    import numpy as np

    for r, (el, eb) in zip(out2, expect):
        assert r.level == np.float32(el) and r.trend == np.float32(eb)


def test_holt_smooth_string_key_and_numeric_step(spark):
    """r8 advice items 1+2: a non-bigint key must survive the Arrow
    round-trip (schema is derived from the input, not hardcoded), and a
    NUMERIC step column must order numerically — step 10 comes after
    step 2, not before it as the old string-cast ordering had it — and
    keep its original type in the output."""
    rows = [
        ("u-a", 2, 20.0),
        ("u-a", 10, 30.0),  # lexicographic '10' < '2' would reorder
        ("u-a", 1, 10.0),
        ("u-b", 1, 5.0),
    ]
    df = spark.createDataFrame(rows, "uid string, t int, v double")
    out = holt_smooth(
        df, key_col="uid", step_col="t", y_col="v", alpha=1.0, beta=0.0
    )
    assert dict(out.dtypes)["uid"] == "string"
    assert dict(out.dtypes)["t"] == "int"
    got = [(r.uid, r.t, r.idx, r.level) for r in out.collect()]
    assert got == [
        ("u-a", 1, 1, 10.0),
        ("u-a", 2, 2, 20.0),
        ("u-a", 10, 3, 30.0),
        ("u-b", 1, 1, 5.0),
    ]


def test_grid_knn_join_negative_coords_floor_cells(spark):
    """r8 advice item 4: cell keys use FLOOR division, so cells stay
    uniform across the origin. Two points just either side of x=0 in a
    small cell must still find each other (adjacent cells -1 and 0),
    and a truncation-toward-zero double-width cell 0 must not exist."""
    pts = [(1, -5, 0), (2, 5, 0), (3, -95, 0), (4, 250, 0)]
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    out = grid_knn_join(
        df, id_col="pid", x_col="px", y_col="py", cell=100, k=1
    ).collect()
    nn = {r.pid: (r.nbr_id, r.d2) for r in out}
    # floor cells: -5→-1, 5→0, -95→-1, 250→2. Points 1,2 are in
    # ADJACENT cells and must pair up; 3 finds 1 inside cell -1; 4's
    # cell 2 neighborhood {1,2,3} reaches cell 1..3 → only point 2
    # (cell 0) is OUT of range, so 4 has no candidates... cell 2's ring
    # is {1,2,3}; point 2 is in cell 0 → excluded. Assert exactly that.
    assert nn[1] == (2, 100)
    assert nn[2] == (1, 100)
    assert nn[3] == (1, 8100)
    assert 4 not in nn  # ring miss is the documented caveat, not a bug


# --------------------------------------------------------------------------
# round-9 public APIs: hampel_filter / apriori_triples / mann_whitney_u

from boltzmannclean_spark import (  # noqa: E402
    apriori_triples,
    hampel_filter,
    mann_whitney_u,
)


def test_hampel_filter_flags_spike_not_step(spark):
    # A lone spike inside a stable window is flagged; a level SHIFT is
    # not (the rolling median follows the new level) — the property
    # that distinguishes Hampel from a z-score filter.
    rows = [(1, i, 100 if i != 5 else 500) for i in range(10)]
    rows += [(2, i, 100 if i < 5 else 200) for i in range(10)]  # step
    df = spark.createDataFrame(rows, "k long, t long, v long")
    out = hampel_filter(
        df, key_col="k", order_cols=("t",), value_col="v",
        half_window=3, k=3.0,
    ).collect()
    assert [(r.k, r.t) for r in out] == [(1, 5)]
    assert out[0].window_median == 100.0


def test_hampel_filter_k_and_window_knobs(spark):
    # Zero-MAD dominance (the documented degenerate contract, see
    # hampel_filter's docstring): in a constant neighborhood MAD is 0,
    # so ANY deviation flags REGARDLESS of k — this is what catches a
    # spike in a flat signal. Pin it: the spike is flagged even at
    # k=1000 because its window is 6×100 + one 120 → MAD = 0.
    rows = [(1, i, 100 + (20 if i == 4 else 0)) for i in range(9)]
    df = spark.createDataFrame(rows, "k long, t long, v long")
    flat_hits = hampel_filter(
        df, key_col="k", order_cols=("t",), value_col="v", k=1000.0
    ).collect()
    assert [(r.k, r.t) for r in flat_hits] == [(1, 4)]
    assert flat_hits[0].window_mad == 0.0
    # The k knob only bites when MAD > 0 — exercise it on a varied
    # series: k=3 flags the spike, a huge k flags nothing.
    rows2 = [(1, i, v) for i, v in enumerate([10, 12, 11, 13, 90, 12, 11, 13, 10])]
    df2 = spark.createDataFrame(rows2, "k long, t long, v long")
    hits = hampel_filter(
        df2, key_col="k", order_cols=("t",), value_col="v",
        half_window=3, k=3.0,
    ).collect()
    assert [(r.k, r.t) for r in hits] == [(1, 4)]
    assert hampel_filter(
        df2, key_col="k", order_cols=("t",), value_col="v",
        half_window=3, k=1000.0,
    ).count() == 0


def test_apriori_triples_counts_and_threshold(spark):
    # 4 baskets; {a,b,c} in 3 of them, {a,b,d} only in 1.
    data = [
        (1, ["a", "b", "c"]),
        (2, ["a", "b", "c", "d"]),
        (3, ["a", "b", "c"]),
        (4, ["a", "b", "d"]),
    ]
    rows = [(b, i) for b, items in data for i in items]
    df = spark.createDataFrame(rows, "bid long, item string")
    # threshold 3/4: only (a,b,c) with support 3 survives
    out = apriori_triples(
        df, basket_col="bid", item_col="item",
        min_support_num=3, min_support_den=4,
    ).collect()
    assert [(r.t1, r.t2, r.t3, r.support) for r in out] == [("a", "b", "c", 3)]
    # threshold 1/4 admits every triple with support >= 1
    loose = apriori_triples(
        df, basket_col="bid", item_col="item",
        min_support_num=1, min_support_den=4,
    ).collect()
    sups = {(r.t1, r.t2, r.t3): r.support for r in loose}
    assert sups[("a", "b", "c")] == 3 and sups[("a", "b", "d")] == 2
    assert sups[("a", "c", "d")] == 1 and sups[("b", "c", "d")] == 1


def test_mann_whitney_u_brute_force_parity(spark):
    import itertools

    a_vals = [3, 5, 5, 7, 11]
    b_vals = [1, 5, 6, 6]
    rows = [("A", v) for v in a_vals] + [("B", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, v long")
    out = mann_whitney_u(
        df, value="v", group_col="g", group_a="A", group_b="B"
    ).collect()[0]
    # brute force: U1 = #(a > b) + 0.5 * #(a == b), in x2 units
    u1_x2 = sum(
        2 if a > b else (1 if a == b else 0)
        for a, b in itertools.product(a_vals, b_vals)
    )
    assert out.n1 == 5 and out.n2 == 4
    assert out.u1_x2 == u1_x2
    assert out.u2_x2 == 2 * 5 * 4 - u1_x2
    # tie groups: value 5 x3, value 6 x2 -> (27-3) + (8-2)
    assert out.tie_term == 24 + 6


def test_welch_ttest_matches_textbook_formula(spark):
    import math

    from boltzmannclean_spark import welch_ttest

    a_vals = [10, 12, 9, 14, 11, 13]
    b_vals = [8, 9, 7, 10]
    rows = [("A", v) for v in a_vals] + [("B", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, v long")
    out = welch_ttest(
        df, value="v", group_col="g", group_a="A", group_b="B"
    ).collect()[0]

    def stats(vals):
        n = len(vals)
        m = sum(vals) / n
        var = sum((x - m) ** 2 for x in vals) / (n - 1)
        return n, m, var

    na, ma, va = stats(a_vals)
    nb, mb, vb = stats(b_vals)
    se2a, se2b = va / na, vb / nb
    t = (ma - mb) / math.sqrt(se2a + se2b)
    df_ws = (se2a + se2b) ** 2 / (se2a**2 / (na - 1) + se2b**2 / (nb - 1))
    assert out.n_a == na and out.n_b == nb
    assert out.mean_a == pytest.approx(ma, abs=1e-12)
    assert out.mean_b == pytest.approx(mb, abs=1e-12)
    assert out.welch_t == pytest.approx(t, rel=1e-12)
    assert out.welch_df == pytest.approx(df_ws, rel=1e-12)


def test_welch_ttest_is_symmetric_in_sign(spark):
    from boltzmannclean_spark import welch_ttest

    rows = [("A", v) for v in (5, 6, 7)] + [("B", v) for v in (9, 10, 11)]
    df = spark.createDataFrame(rows, "g string, v long")
    ab = welch_ttest(
        df, value="v", group_col="g", group_a="A", group_b="B"
    ).collect()[0]
    ba = welch_ttest(
        df, value="v", group_col="g", group_a="B", group_b="A"
    ).collect()[0]
    assert ab.welch_t == -ba.welch_t
    assert ab.welch_df == ba.welch_df


def test_psi_drift_zero_for_identical_halves_positive_for_shift(spark):
    import datetime as dt

    from boltzmannclean_spark import psi_drift

    t0 = dt.datetime(2024, 1, 1)

    def rows(values, day_offsets, g="a"):
        return [
            (g, v, t0 + dt.timedelta(days=d))
            for v, d in zip(values, day_offsets)
        ]

    # Group "a": the same value multiset in both time halves -> every
    # bucket's smoothed rates match, every PSI term is exactly 0.
    same = rows([100, 200, 300, 100], [0, 0, 0, 0]) + rows(
        [100, 200, 300, 100], [10, 10, 10, 10]
    )
    # Group "b": the newer half lives in different buckets -> PSI > 0.
    shifted = rows([100, 100, 100, 100], [0, 0, 0, 0], g="b") + rows(
        [900, 900, 900, 900], [10, 10, 10, 10], g="b"
    )
    df = spark.createDataFrame(same + shifted, "g string, v long, ts timestamp")
    out = {
        r.g: r
        for r in psi_drift(
            df, value="v", group_col="g", time_col="ts", bucket_width=100
        ).collect()
    }
    assert out["a"].psi == 0.0
    assert out["b"].psi > 1.0  # disjoint buckets -> large PSI
    # PSI is symmetric in (p, q): swapping which multiset is the older
    # half leaves each |(p-q) ln(p/q)| term unchanged.
    swapped = rows([900, 900, 900, 900], [0, 0, 0, 0], g="b") + rows(
        [100, 100, 100, 100], [10, 10, 10, 10], g="b"
    )
    df_sw = spark.createDataFrame(swapped, "g string, v long, ts timestamp")
    out_sw = {
        r.g: r
        for r in psi_drift(
            df_sw, value="v", group_col="g", time_col="ts", bucket_width=100
        ).collect()
    }
    assert out_sw["b"].psi == out["b"].psi


def test_permutation_test_detects_obvious_shift_and_respects_null(spark):
    from boltzmannclean_spark import permutation_test

    # Group A hugely above group B: no random relabeling should beat
    # the observed difference, so n_as_extreme = 0 and p is the
    # add-one floor 1/(R+1).
    rows = [("A", i, 1000 + (i % 3)) for i in range(40)] + [
        ("B", 100 + i, i % 3) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, u long, v long")
    out = permutation_test(
        df, value="v", group_col="g", group_a="A", group_b="B",
        unit_col="u", n_resamples=32,
    ).collect()[0]
    assert out.n_a == 40 and out.n_b == 40
    assert out.n_as_extreme == 0
    assert out.p_value == pytest.approx(1 / 33)
    # Identical groups: the observed diff is 0, every replica's
    # |diff| >= 0, so the test cannot reject (p = 1).
    same = [("A", i, 7) for i in range(20)] + [
        ("B", 100 + i, 7) for i in range(20)
    ]
    df2 = spark.createDataFrame(same, "g string, u long, v long")
    out2 = permutation_test(
        df2, value="v", group_col="g", group_a="A", group_b="B",
        unit_col="u", n_resamples=32,
    ).collect()[0]
    assert out2.diff_obs == 0.0
    assert out2.p_value == 1.0


def test_psi_drift_group_with_one_empty_half_is_finite(spark):
    import datetime as dt

    from boltzmannclean_spark import psi_drift

    t0 = dt.datetime(2024, 1, 1)
    # The midpoint is GLOBAL: group "anchor" spans both halves and
    # pins it; group "late" has every row after it (a late-starting
    # arm).  Pre-fix, the empty old half dropped out of the grid
    # (inner join on totals) and "late" returned psi = NULL, defeating
    # the Laplace smoothing; now the empty half's total coalesces to 0
    # so each bucket reads rate 1/n_buckets.
    rows = [
        ("anchor", 100, t0),
        ("anchor", 100, t0 + dt.timedelta(days=10)),
        ("late", 100, t0 + dt.timedelta(days=10)),
        ("late", 100, t0 + dt.timedelta(days=10)),
        ("late", 900, t0 + dt.timedelta(days=10)),
    ]
    df = spark.createDataFrame(rows, "g string, v long, ts timestamp")
    out = {
        r.g: r
        for r in psi_drift(
            df, value="v", group_col="g", time_col="ts", bucket_width=100
        ).collect()
    }
    assert out["late"].psi is not None
    # old half: p = 1/n_buckets = 0.5 per bucket; new half: q = 3/5, 2/5.
    import math

    expect = (0.5 - 0.6) * math.log(0.5 / 0.6) + (0.5 - 0.4) * math.log(
        0.5 / 0.4
    )
    assert out["late"].psi == pytest.approx(expect, rel=1e-6)


def test_psi_drift_negative_values_floor_bucketing(spark):
    import datetime as dt

    from boltzmannclean_spark import psi_drift

    t0 = dt.datetime(2024, 1, 1)
    # -150 and +50 must land in DIFFERENT buckets (floor: -2 vs 0).
    # Pre-fix Spark's truncating `div` put -150 in bucket -1 and gave
    # bucket 0 a double width (-100, 100), diverging from the oracle's
    # floor `//`.  With floor bucketing the two halves here occupy
    # disjoint buckets, so psi is strictly positive.
    rows = [
        ("g", -150, t0),
        ("g", -150, t0),
        ("g", 50, t0 + dt.timedelta(days=10)),
        ("g", 50, t0 + dt.timedelta(days=10)),
    ]
    df = spark.createDataFrame(rows, "g string, v long, ts timestamp")
    r = psi_drift(
        df, value="v", group_col="g", time_col="ts", bucket_width=100
    ).collect()[0]
    assert r.n_buckets == 2
    assert r.psi > 0.5


def test_permutation_test_negative_ids_and_degenerate_replicas(spark):
    from boltzmannclean_spark import permutation_test

    # Negative unit ids: pre-fix the sign-keeping % made the label
    # land in {-1, 0}, so the lbl==1 arm of EVERY replica was empty,
    # d was NULL, and p collapsed to the 1/(R+1) floor — spurious
    # significance regardless of the data.  Identical groups must
    # still read p = 1.
    same = [("A", -(i + 1), 7) for i in range(20)] + [
        ("B", -(100 + i), 7) for i in range(20)
    ]
    df = spark.createDataFrame(same, "g string, u long, v long")
    out = permutation_test(
        df, value="v", group_col="g", group_a="A", group_b="B",
        unit_col="u", n_resamples=32,
    ).collect()[0]
    assert out.diff_obs == 0.0
    assert out.p_value == 1.0
    # Units {5, 6} are LCG-degenerate: every replica assigns both the
    # same label, so every replica diff is undefined (NULL).  NULL
    # replicas count as extreme — the conservative direction — so the
    # test reports p = 1, never the significance floor.
    tiny = [("A", 5, 7), ("B", 6, 7)]
    df2 = spark.createDataFrame(tiny, "g string, u long, v long")
    out2 = permutation_test(
        df2, value="v", group_col="g", group_a="A", group_b="B",
        unit_col="u", n_resamples=32,
    ).collect()[0]
    assert out2.n_as_extreme == 32
    assert out2.p_value == 1.0


def test_sharded_prefix_sum_equals_global(spark):
    """The two-level count-bucket prefix sum (functions/prefix.py) must
    be BIT-identical to the single global window it replaces — ranks
    and running sums both — including when one shard holds most rows
    (the crowded n=1 bucket) and when the composite struct shard splits
    it."""
    from pyspark.sql import Window

    from boltzmannclean_spark.functions.prefix import sharded_prefix_sum

    # skewed counts: half the keys have n=1, a head has big n
    rows = [(k, 1 if k % 2 else (k % 7) * 10 + 1) for k in range(500)]
    df = spark.createDataFrame(rows, "user_id long, n long")
    wo = Window.orderBy(F.desc("n"), "user_id")
    ref = {
        r.user_id: (r.rk, r.cum)
        for r in df.select(
            "user_id",
            F.row_number().over(wo).cast("long").alias("rk"),
            F.sum("n")
            .over(wo.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("cum"),
        ).collect()
    }
    for shard in (
        (F.col("n") * -1).cast("long"),
        F.struct(
            (F.col("n") * -1).alias("s1"),
            F.expr("user_id div 16").alias("s2"),
        ),
    ):
        got = {
            r.user_id: (r.rk, r.cum)
            for r in sharded_prefix_sum(
                df.withColumn("__shard", shard),
                shard_col="__shard",
                order=[F.desc("n"), "user_id"],
                value="n",
                cum_col="cum",
                rank_col="rk",
            )
            .select("user_id", "rk", "cum")
            .collect()
        }
        assert got == ref


def test_harmonic_centrality_knobs(spark):
    """pipeline.harmonic_centrality (r11 verdict #5): roots/max_level
    are real knobs, harmonic_scaled uses unit=lcm(1..L), and the
    values match a hand-computed BFS on a tiny known graph."""
    from boltzmannclean_spark.pipeline import harmonic_centrality

    # path graph 1->2->3->4 plus hub 0 -> {1,2,3}
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3), (3, 4)],
        "src long, dst long",
    )
    out = {r.node: r for r in harmonic_centrality(
        edges, roots=2, max_level=2
    ).collect()}
    # top-2 out-degree roots: node 0 (deg 3), then node 1/2/3 (deg 1,
    # ties to smallest id -> node 1)
    assert set(out) == {0, 1}
    # node 0: L1 = {1,2,3} (3 nodes), L2 adds {4} (via 3) — 2->3
    # already reached at L1.
    r0 = out[0]
    assert (r0.degree, r0.n_l1, r0.n_l2) == (3, 3, 1)
    # unit = lcm(1,2) = 2: scaled = 2*n_l1 + 1*n_l2
    assert r0.harmonic_scaled == 2 * 3 + 1 * 1
    r1 = out[1]
    assert (r1.n_l1, r1.n_l2, r1.harmonic_scaled) == (1, 1, 3)

    # max_level=3 exposes n_l3 and unit 6 (the registered sixths).
    out3 = {r.node: r for r in harmonic_centrality(
        edges, roots=1, max_level=3
    ).collect()}
    r0 = out3[0]
    assert (r0.n_l1, r0.n_l2, r0.n_l3) == (3, 1, 0)
    assert r0.harmonic_scaled == 6 * 3 + 3 * 1
