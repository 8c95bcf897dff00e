"""Invariant tests for the LLM-pipeline operators that the DuckDB oracle
cannot fully check (stubs, recall properties, engine-specific hashes)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from boltzmannclean_spark.operators.multimodal import decode_image
from boltzmannclean_spark.plans.registry import all_queries

QUERIES = all_queries()


def test_decode_image_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00" * 16)


def test_decode_image_fake_deterministic():
    a = decode_image(b"0123456789abcdef", fake=True)
    b = decode_image(b"0123456789abcdef", fake=True)
    assert a.shape == (4, 4)
    assert (a == b).all()


def test_multimodal_features_schema_and_rows(spark, oracle_sf_dir):
    from boltzmannclean_spark.operators.multimodal import image_features_typed

    rows = image_features_typed(spark, oracle_sf_dir).orderBy("doc_id").collect()
    assert len(rows) == 500
    r = rows[0]
    assert r.width == 4 and r.height == 4
    assert r.n_bytes == 16
    assert len(r.feature) == 4
    assert 0.0 <= r.mean_intensity <= 255.0
    # The registered variant renders the vector as a CSV string so the
    # harness's pandas sort-canonicalization can order it.
    reg = QUERIES["multimodal_features"].spark_fn(spark, oracle_sf_dir).collect()
    assert len(reg) == 500
    parts = reg[0].feature_csv.split(",")
    assert len(parts) == 4
    assert [float(p) for p in parts] == list(rows[0].feature)


def test_ann_lsh_recall_vs_brute_force(spark, oracle_sf_dir):
    """LSH ANN must find a reasonable fraction of the true top-10 within
    its bucket (4 planes → 1/16 of corpus per bucket; random vectors
    give modest recall — assert it's materially above random)."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["similarity_cosine_topk"].spark_fn(spark, oracle_sf_dir).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["similarity_ann_lsh"].spark_fn(spark, oracle_sf_dir).collect()
    }
    assert len(brute) == 50
    recall = len(brute & ann) / len(brute)
    # random chance of a corpus vector landing in the query bucket ~ 6%;
    # hyperplane LSH correlates buckets with cosine, so demand better.
    assert recall >= 0.15, f"ANN recall {recall:.2f} suspiciously low"


def test_ann_ivf_trained_recall_vs_brute_force(spark, oracle_sf_dir):
    """The trained IVF quantizer (seeded integer k-means) must place
    true neighbors into the query's cell well above chance: with ~10
    cells, random assignment gives ~0.10 recall@10; measured recall at
    sf0.01 is 0.54. Assert a floor with margin for fixture changes."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["similarity_cosine_topk"].spark_fn(spark, oracle_sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["similarity_ann_ivf"].spark_fn(spark, oracle_sf_dir).collect()
    }
    assert len(brute) == 50
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.3, f"trained-IVF recall {recall:.2f} below floor"


def test_minhash_drop_decisions_verified(spark, oracle_sf_dir):
    """Every drop decision the LSH pipeline reports must be genuinely
    above the Jaccard threshold (precision 1.0 — the verification step),
    point at a smaller-id representative, and be unique per doc."""
    rows = QUERIES["dedup_minhash_lsh"].spark_fn(spark, oracle_sf_dir).collect()
    assert rows, "expected some near-duplicate docs in this corpus"
    seen = set()
    for r in rows:
        assert 0.9 <= r.jaccard <= 1.0
        assert r.dup_of < r.doc_id
        assert r.doc_id not in seen
        seen.add(r.doc_id)


def test_xxhash64_stability(spark):
    """Engine-specific hash functions: stable across runs/partitions."""
    df = spark.range(1000).select(
        F.xxhash64(F.col("id").cast("string")).alias("h1"),
        F.hash(F.col("id").cast("string")).alias("h2"),
        F.crc32(F.col("id").cast("string").cast("binary")).alias("h3"),
    )
    a = df.collect()
    b = df.repartition(7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_frame_sample_invariants(spark, sf_dir):
    """Frame sampling: every 4th frame of the 16-byte fake payload →
    exactly 2 frames per doc (idx 0 and 4), offsets = idx*2 bytes,
    deterministic across runs."""
    df = QUERIES["multimodal_frame_sample"].spark_fn(spark, sf_dir)
    rows = df.collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, frames in per_doc.items():
        assert [f.frame_idx for f in frames] == [0, 4]
        assert all(f.frame_offset_bytes == f.frame_idx * 2 for f in frames)
        assert all(f.n_frames_total == 8 for f in frames)
    again = df.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_recall_vs_bruteforce(spark, oracle_sf_dir):
    """IVF (nprobe=1) keeps meaningful recall vs exact top-k and never
    reports a neighbor outside the query's cell."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["similarity_cosine_topk"]
        .spark_fn(spark, oracle_sf_dir)
        .collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["similarity_ann_ivf"]
        .spark_fn(spark, oracle_sf_dir)
        .collect()
    }
    assert ivf, "IVF returned nothing"
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.15, f"IVF recall {recall:.2f} suspiciously low"


def test_minhash_mllib_pairs_are_true_near_dups(spark, oracle_sf_dir):
    """MLlib approxSimilarityJoin verifies candidates with the exact
    distance over hashed binary vectors, so every emitted pair must be
    a genuine near-dup under true token-set Jaccard too (tiny slack for
    HashingTF collisions, which can only nudge the hashed estimate)."""
    from pyspark.sql import functions as F

    pairs = QUERIES["dedup_minhash_mllib"].spark_fn(spark, oracle_sf_dir)
    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet").select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("toks")
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    jac = (
        F.size(F.array_intersect("ta", "tb")).cast("double")
        / F.size(F.array_union("ta", "tb"))
    )
    checked = (
        pairs.join(a, "doc_a").join(b, "doc_b").select(jac.alias("true_jaccard"))
    )
    n_pairs = checked.count()
    assert n_pairs > 0, "expected near-dup pairs in this corpus"
    low = checked.where(F.col("true_jaccard") < 0.88).count()
    assert low == 0, f"{low}/{n_pairs} emitted pairs below true-Jaccard floor"


def test_brp_mllib_distances_exact_and_recall(spark, oracle_sf_dir):
    """MLlib BucketedRandomProjectionLSH: (a) every emitted euclidean
    distance must equal the exact distance between the two vectors
    (approxSimilarityJoin verifies candidates exactly, so precision is
    1.0); (b) top-10 recall vs the exact euclidean ranking must be
    materially above random."""
    import math

    from pyspark.sql import functions as F

    from boltzmannclean_spark.functions.vectors import as_double

    out = QUERIES["similarity_ann_brp_mllib"].spark_fn(spark, oracle_sf_dir)
    rows = out.collect()
    assert rows, "BRP ANN returned nothing"

    emb = {
        r.vec_id: r.e
        for r in spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
        .select("vec_id", as_double(F.col("embedding")).alias("e"))
        .collect()
    }
    for r in rows:
        exact = math.sqrt(
            sum((a - b) ** 2 for a, b in zip(emb[r.query_id], emb[r.neighbor_id]))
        )
        assert abs(exact - r.euclid_dist) < 1e-9, (r, exact)

    # exact top-10 per query by euclidean distance
    qids = sorted({r.query_id for r in rows})
    brute = set()
    for q in qids:
        ranked = sorted(
            (
                (
                    sum((a - b) ** 2 for a, b in zip(emb[q], emb[v])),
                    v,
                )
                for v in emb
                if v != q
            ),
        )[:10]
        brute |= {(q, v) for _, v in ranked}
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.15, f"BRP recall {recall:.2f} suspiciously low"


def test_embedding_dedup_headline_pruning_is_effective(spark, oracle_sf_dir):
    # Round-4 verdict finding #2: the REGISTERED parameterization must
    # prune. At 12 bands x 8 bits the candidate set must be a small
    # fraction of all pairs; the old 3-bit demo bands admitted ~35% of
    # all pairs and are relegated to the _recall_demo entry.
    from boltzmannclean_spark.functions.vectors import as_double
    from boltzmannclean_spark.operators.dedup import (
        DUP_BANDS,
        DUP_ROWS,
        _cosine_band_candidates,
    )
    from boltzmannclean_spark.sources.catalog import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    n = emb.select("vec_id", as_double("embedding").alias("e"))
    n_vec = n.count()
    all_pairs = n_vec * (n_vec - 1) // 2
    n_cand = _cosine_band_candidates(spark, n, DUP_BANDS, DUP_ROWS).count()
    frac = n_cand / all_pairs
    assert frac < 0.10, (
        f"headline banding admits {n_cand}/{all_pairs} = {frac:.1%} of all "
        "pairs - pruning is not production-shaped"
    )


def test_embedding_dedup_demo_finds_pairs(spark, oracle_sf_dir):
    # The recall-demo parameterization must keep exercising the
    # exact-cosine verification path with NON-empty output (the
    # headline threshold 0.9 is empty on this synthetic corpus).
    q = all_queries()
    rows = q["dedup_embedding_cosine_recall_demo"].spark_fn(
        spark, oracle_sf_dir
    ).collect()
    assert len(rows) > 0
    assert all(r.cosine >= 0.35 for r in rows)


def test_embedding_dedup_zero_vector_matches_oracle(spark, tmp_path):
    # A zero vector's sign bits all read '1', so it collides with other
    # vectors in some band; its cosine is NULL in the DuckDB oracle
    # (0.0/0.0) and the pair fails the threshold. The NumPy verify must
    # agree (a NaN cosine would pass Spark's threshold filter).
    import duckdb

    from boltzmannclean_spark.operators.dedup import (
        DEMO_BANDS,
        DEMO_COSINE_THRESHOLD,
        DEMO_ROWS,
        _cosine_dup_oracle,
        _cosine_dup_plan,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 64)).astype(np.float32)
    vecs[3] = 0.0
    rows = [(i, vecs[i].tolist(), i % 3) for i in range(len(vecs))]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = _cosine_dup_plan(
        spark, str(tmp_path), DEMO_BANDS, DEMO_ROWS, DEMO_COSINE_THRESHOLD
    ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    want = con.execute(
        _cosine_dup_oracle(DEMO_BANDS, DEMO_ROWS, DEMO_COSINE_THRESHOLD)
    ).fetchall()
    assert want, "no pair clears the demo threshold"
    assert [(r.vec_a, r.vec_b, r.cosine.hex()) for r in got] == [
        (a, b, c.hex()) for a, b, c in want
    ]


def test_embedding_dedup_numpy_cosine_bit_equals_fold(spark, oracle_sf_dir):
    # The r15 verify stage computes the cosine in NumPy (mapInArrow,
    # dimension-ordered fold). It must be BIT-identical to the JVM
    # sequential left-fold expression it replaced: re-derive each
    # returned pair's cosine via dot_unrolled and compare float.hex.
    from boltzmannclean_spark.functions.vectors import (
        as_double,
        dot_unrolled,
        norm,
    )
    from boltzmannclean_spark.sources.catalog import load_table

    out = QUERIES["dedup_embedding_cosine_recall_demo"].spark_fn(
        spark, oracle_sf_dir
    )
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    n = emb.select(
        "vec_id", as_double("embedding").alias("e")
    ).withColumn("nrm", norm(F.col("e")))
    na = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    nb = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    ref = (
        out.join(na, "vec_a")
        .join(nb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "cosine",
            (
                dot_unrolled(F.col("ea"), F.col("eb"), 64)
                / (F.col("na") * F.col("nb"))
            ).alias("ref_cosine"),
        )
        .collect()
    )
    assert len(ref) > 0
    for r in ref:
        assert float(r.cosine).hex() == float(r.ref_cosine).hex(), r


def test_pq_adc_recall_vs_exact_l2(spark, oracle_sf_dir):
    # PQ approximates squared-L2; its top-10 must overlap the exact
    # integer-L2 top-10 far above chance (10/499 ~ 2%).
    from boltzmannclean_spark.operators.similarity import (
        MICRO,
        N_QUERY,
    )

    rows = all_queries()["similarity_ann_pq_adc"].spark_fn(
        spark, oracle_sf_dir
    ).collect()
    assert len(rows) == N_QUERY * 10
    emb = {
        r.vec_id: [round(float(x) * MICRO) for x in r.embedding]
        for r in spark.read.parquet(
            f"{oracle_sf_dir}/embeddings.parquet"
        ).collect()
    }
    brute = set()
    for q in range(N_QUERY):
        ranked = sorted(
            (
                (sum((a - b) ** 2 for a, b in zip(emb[q], emb[v])), v)
                for v in emb
                if v != q
            ),
        )[:10]
        brute |= {(q, v) for _, v in ranked}
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.15, f"PQ-ADC recall {recall:.2f} vs exact L2"


def test_bpe_learn_merges_matches_reference(spark):
    """text_bpe_learn_merges vs a pure-Python reference BPE (Sennrich
    et al.'s algorithm: count adjacent symbol pairs weighted by word
    frequency, merge the most frequent with lexicographic tie-break,
    repeat) over the sf0.001 corpus — the learned merge table must be
    IDENTICAL, pair counts included."""
    from collections import Counter

    from boltzmannclean_spark.operators.text import BPE_ROUNDS

    sf = "/root/testdata/sf0.001"
    texts = [
        r.text
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("text")
        .collect()
    ]
    wordfreq = Counter(
        w for t in texts for w in t.lower().split(" ") if w
    )
    vocab = {
        tuple(list(w) + ["</w>"]): f for w, f in wordfreq.items()
    }
    expected = []
    for _ in range(BPE_ROUNDS):
        pairs = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        # most frequent, ties broken by lexicographically smallest pair
        best, cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        expected.append((best[0] + " " + best[1], best[0] + best[1], cnt))
        merged_tok = best[0] + best[1]
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged_tok)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    rows = QUERIES["text_bpe_learn_merges"].spark_fn(spark, sf).collect()
    got = [(r.pair, r.merged, r.pair_count) for r in rows]
    assert got == expected, f"\ngot:      {got}\nexpected: {expected}"
