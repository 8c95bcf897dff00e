"""Parameterized LLM-data-pipeline operators — the public library API.

The query registry (``boltzmannclean_spark/operators/``) exercises each
operator with fixture constants so the driver can oracle-check it
against DuckDB; THESE are the same implementations with the knobs
exposed, so a user can run them on their own tables with their own
thresholds::

    import boltzmannclean_spark as bcs
    dups = bcs.minhash_dedup(docs, n_hashes=128, band_rows=4,
                             threshold=0.8)
    keep = bcs.quality_filter(docs, min_tokens=50, min_stop_frac=0.02)
    sessions = bcs.sessionize(events, gap_minutes=15)

Every function is DataFrame-in / DataFrame-out, builds a declarative
plan (Catalyst optimizes it; nothing collects to the driver), and keeps
the scale posture documented on the registry twin: banded/blocked
candidate generation, map-side-limited top-k, broadcast-sized dictionaries. The
registry queries call these with their module constants, so the oracle
suite continuously verifies the exact code paths users run
(tests/test_pipeline_api.py pins that delegation plus custom-parameter
behavior).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from boltzmannclean_spark.ann import _quantize, ann_search, build_ann_index
from boltzmannclean_spark.functions.combos import packed_combo_counts
from boltzmannclean_spark.functions.exact import dec
from boltzmannclean_spark.functions.shingles import (
    jaccard_verify,
    lsh_bands,
    minhash_signature,
)
from boltzmannclean_spark.functions.vectors import (
    cosine,
    normed,
    rank_by_cosine,
    scored_pairs,
)

__all__ = [
    "exact_dedup",
    "minhash_dedup",
    "substring_dedup",
    "semantic_dedup",
    "cosine_topk",
    "bm25_topk",
    "quality_filter",
    "sessionize",
    "language_id",
    "token_stats",
    # ANN lifecycle (ann.py; re-exported here so the public surface is
    # one import): build once / persist / search many times.
    "build_ann_index",
    "ann_search",
    # round-8 session 2: quality bucketing, sequential testing, spatial
    # kNN and per-key recurrences as parameterized functions.
    "perplexity_buckets",
    "sprt_monitor",
    "grid_knn_join",
    "holt_smooth",
    # round-9: robust filtering, frequent-itemset mining, rank tests.
    "hampel_filter",
    "apriori_triples",
    "mann_whitney_u",
    "ks_two_sample",
    # round-10: parametric mean testing from mergeable exact moments,
    # and the standard ML-ops distribution-drift readout.
    "welch_ttest",
    "psi_drift",
    "permutation_test",
    # round-11: delta dedup for daily-ingest corpora.
    "incremental_minhash_dedup",
    # round-12: the truncated-BFS centrality core with its two scale
    # knobs (root cap, hop limit) public.
    "harmonic_centrality",
]


def exact_dedup(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact (byte-identical) dedup: md5-groupBy keeping the lowest id
    per digest. Shuffles 16-byte digests, not documents — linear at any
    corpus size. Returns one row per distinct text:
    (text_hash, keep_<id_col>, n_copies)."""
    return (
        docs.select(F.col(id_col), F.md5(text_col).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy(f"keep_{id_col}")
    )


def minhash_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_rows: int = 2,
    threshold: float = 0.9,
) -> DataFrame:
    """MinHash + LSH near-duplicate dedup, representative-based:
    whitespace-token shingles → ``n_hashes`` minhashes →
    ``n_hashes / band_rows`` banded bucket keys → each doc verified
    against its bucket's min-id representative by EXACT token-set
    Jaccard → rows (id, dup_of, jaccard) for docs at jaccard >=
    ``threshold``. Signature, bands and verify are the shared builders
    of ``functions/shingles.py``; ``n_hashes`` and ``band_rows`` must
    be positive, with ``band_rows`` dividing ``n_hashes`` (else
    ValueError).

    More hashes / more rows per band sharpen the LSH S-curve around the
    target threshold (production: 128 hashes, 4-8 rows/band at ~0.8).
    Representative-based verification bounds work at docs x bands and
    output at docs — the keep/drop form a 100 TB pipeline emits —
    instead of the Θ(similar pairs) all-pairs blowup."""
    vocab = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.split(text_col, " ")).alias("toks"),
    )
    toks = vocab.select("doc_id", F.explode("toks").alias("sh"))
    minh = minhash_signature(toks, ["doc_id"], n_hashes)
    bands = lsh_bands(minh, ["doc_id"], n_hashes, band_rows)
    w_bucket = Window.partitionBy("band", "band_key")
    edges = (
        bands.withColumn("rep", F.min("doc_id").over(w_bucket))
        .select("doc_id", "rep")
        .distinct()
        .where(F.col("doc_id") > F.col("rep"))
    )
    # No forced broadcast: AQE broadcasts the edge side when it is
    # actually small and falls back to a shuffle join on a
    # high-duplication corpus where edges ~ docs.
    verified = jaccard_verify(edges, vocab, "doc_id", "rep", "doc_id").where(
        F.col("jaccard") >= threshold
    )
    w_doc = Window.partitionBy("doc_id").orderBy("dup_of")
    return (
        verified.withColumn("rn", F.row_number().over(w_doc))
        .where(F.col("rn") == 1)
        .drop("rn")
        .withColumnRenamed("doc_id", id_col)
        .orderBy(id_col)
    )


def substring_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 5,
    df_cap: int = 20,
    min_run: int = 3,
) -> DataFrame:
    """Substring-level duplication (Lee et al. 2022): per doc pair, the
    longest VERBATIM shared span in words and the number of such runs.
    A shared span of k words is a run of k-ngram+1 consecutive matching
    ``ngram``-shingles on one (doc_a, doc_b, pos_a - pos_b) diagonal, so
    the suffix-array approach distributes as: row-local shingling →
    document-frequency cap (``df_cap`` — a shingle in more docs never
    seeds a match: the stop-boilerplate guard keeping the join linear)
    → shingle equi-join → gaps-and-islands per diagonal. Pairs need at
    least ``min_run`` consecutive shared shingles
    (= min_run + ngram - 1 shared words)."""
    sh = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("a")
        )
        .select(
            "doc_id",
            F.explode(
                # Docs shorter than the shingle width fan out to zero
                # shingles (sequence(1, n) DESCENDS for n < 1 and slice
                # throws on the out-of-range start).
                F.expr(
                    f"CASE WHEN size(a) >= {ngram} THEN "
                    f"transform(sequence(1, size(a) - {ngram - 1}), "
                    f"i -> struct(i AS pos, concat_ws(' ', slice(a, i, {ngram})) AS s)) "
                    f"ELSE array() END"
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.s").alias("s"))
        # ONE exchange under every consumer (r16, guide §2.4 "two
        # operations keyed the same way can share one exchange"): the
        # df-cap aggregation and BOTH self-join sides need sh keyed by
        # s, but without a common exchange Catalyst duplicated the
        # whole subtree — the committed r15 plan scanned documents 8×
        # and ran the tokenize+explode Generate 4× (df_ok broadcasts,
        # so no exchange existed to reuse). Repartitioning by s makes
        # the shuffle files the shared, disk-backed materialization
        # point: one scan, one Generate, one shuffle of the shingle
        # table, ReusedExchange everywhere else — the scale-safe
        # alternative to pinning the corpus-sized frame in memory
        # (this operator's documented memory-vs-rescan position).
        .repartition(F.col("s"))
    )
    df_ok = (
        sh.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("ndoc"))
        .where(F.col("ndoc") <= df_cap)
        .select("s")
    )
    kept = sh.join(df_ok, "s")
    a = kept.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "s"
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "s"
    )
    # No .distinct() (r15): shingle rows are unique per (doc, pos), so
    # every join output row is a distinct (a-row, b-row) pair and
    # (doc_a, doc_b, pa, diag) determines (pa, pb) — the former
    # distinct was a semantic no-op costing a full exchange + hash
    # aggregation of the match table.
    m = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("island", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("rl"))
        .where(F.col("rl") >= min_run)
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("rl") + (ngram - 1)).alias("longest_match_tokens"),
            F.count(F.lit(1)).alias("n_runs"),
        )
        .orderBy("doc_a", "doc_b")
    )


def semantic_dedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    theta: float = 0.40,
    dims: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dups found by
    k-means-clustering the embedding space (this engine's exact-integer
    IVF coarse quantizer) and comparing cosines ONLY within each
    cluster — the confinement that makes web-scale semantic dedup
    tractable. A doc is removed iff a same-cell partner with a smaller
    id matches at cosine >= ``theta`` (production: ~0.95 on real
    embeddings). Returns (id, cell, removed, best_dup_cos) for every
    doc in at least one semantic-dup pair. ``dims`` is the vector
    length; when None it is read from the first vector (one small
    job)."""
    from boltzmannclean_spark.operators.similarity import MICRO, _kmeans_cells

    n_full = normed(
        emb,
        [F.col(id_col).alias("vec_id"), F.lit("x").alias("label")],
        vec_col,
        extra=[_quantize(F.col(vec_col), MICRO).alias("qvec")],
    )
    if dims is None:
        first = n_full.select(F.size("qvec")).first()
        train_dims = first[0] if first else 1
    else:
        train_dims = dims
    # localCheckpoint, not cache(): the cell assignment feeds three
    # consumers (both pair sides + the final cell lookup) and must not
    # re-run the k-means iterations, but a public-API function cannot
    # unpersist a block backing the lazy frame it returns — cache()d
    # blocks would outlive the call until someone clears the cache
    # (r7 ADVICE). Checkpointed blocks are reaped by the ContextCleaner
    # as soon as the returned plan is garbage-collected.
    cells = (
        _kmeans_cells(n_full, train_dims)
        .select("vec_id", "e", "nrm", "cid")
        .localCheckpoint()
    )
    a = cells.select(
        F.col("vec_id").alias("va"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        "cid",
    )
    b = cells.select(
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        "cid",
    )
    # Unrolled dot when the caller states the dimensionality (r15):
    # the in-cell pair fan-out is the query's cost center and the HOF
    # fold evaluated interpreted lambdas per element (~25 s of a 31 s
    # query at sf0.1); the unrolled form is bit-identical (same seeded
    # left-fold order) in whole-stage codegen.
    pairs = (
        a.join(b, "cid")
        .where(F.col("va") < F.col("vb"))
        .select(
            "va",
            "vb",
            cosine("ea", "eb", "na", "nb", dims).alias("cosine"),
        )
        .where(F.col("cosine") >= theta)
        # Pair-set sized (theta-filtered); feeds BOTH union legs of the
        # partners frame — un-pinned, the cell self-join ran twice.
        .localCheckpoint(eager=False)
    )
    partners = pairs.select(
        F.col("va").alias("doc_id"), F.col("vb").alias("partner"), "cosine"
    ).unionAll(
        pairs.select(
            F.col("vb").alias("doc_id"), F.col("va").alias("partner"), "cosine"
        )
    )
    agg = partners.groupBy("doc_id").agg(
        (
            F.max(F.when(F.col("partner") < F.col("doc_id"), 1).otherwise(0))
            == 1
        ).alias("removed"),
        F.max("cosine").alias("best_dup_cos"),
    )
    return (
        agg.join(cells.select("vec_id", "cid"), agg.doc_id == F.col("vec_id"))
        .select(
            F.col("doc_id").alias(id_col),
            F.col("cid").cast("long").alias("cell"),
            "removed",
            "best_dup_cos",
        )
        .orderBy(id_col)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    k: int = 10,
    dims: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k similarity search: broadcast the query
    vectors against the corpus, score every (query, candidate) pair,
    then one per-query top-k window; Spark's partial group limit
    below its Exchange keeps k rows per query per map task (k ≤ 1000),
    so the scored corpus never lands on |queries| tasks. ``queries`` shares the corpus
    schema (id + vector columns); a query never matches itself.
    Returns (query_id, neighbor_id[, neighbor_label], cosine, rk)."""
    keys = [F.col(id_col).alias("vec_id")]
    if label_col:
        keys.append(F.col(label_col).alias("label"))
    v = normed(corpus, keys, vec_col)
    q = normed(
        queries, [F.col(id_col).alias("query_id")], vec_col, e="qe", nrm="qnrm"
    )
    keep = [F.col("label").alias("neighbor_label")] if label_col else []
    return rank_by_cosine(scored_pairs(v, q, None, *keep, dims=dims), k)


def bm25_topk(
    docs: DataFrame,
    query_terms: Iterable[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 keyword search: top-``k`` docs by Robertson/Sparck-Jones
    score for ``query_terms``. The term filter lands BEFORE the tf
    aggregation, so only query-term postings ever shuffle (at 100 TB:
    |query| x df rows, not the corpus); document frequencies and the
    corpus stats are tiny broadcasts. Per-doc combination is per-term
    conditional sums added in fixed lexical term order (not a float SUM
    whose merge order varies), and the score is float-cast after the
    one libm op (ln), keeping results engine-portable. Ties broken by
    id. Returns (id, bm25, n_terms_hit)."""
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("toks")
    )
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .where(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("total_len")
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom

    def term_sum(t: str) -> Column:
        return F.coalesce(
            F.sum(F.when(F.col("tok") == t, contrib)), F.lit(0.0)
        )

    score = term_sum(terms[0])
    for t in terms[1:]:
        score = score + term_sum(t)
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            score.cast("float").alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .withColumnRenamed("doc_id", id_col)
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


def quality_filter(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 30,
    max_tokens: int = 100000,
    min_word_len: float = 2,
    max_word_len: float = 12,
    min_stop_frac: float = 0.01,
    stopwords: Sequence[str] = ("the", "a", "of", "and"),
    n_chars_col: str | None = None,
) -> DataFrame:
    """Rule-based quality filter (Gopher-style heuristics: token-count
    bounds, mean word length bounds, minimum stopword fraction),
    emitting per-rule flags plus the final keep decision — the
    auditable form a production pipeline logs. Pure JVM builtins;
    linear in corpus bytes. Returns (id, n_tokens, mean_word_len,
    stop_frac, ok_length, ok_word_len, ok_stopwords, keep).

    ``n_chars_col`` — OPT-IN precomputed-length fast path: name a
    column already holding ``length(text_col)`` and mean_word_len is
    derived from it instead of re-measuring the text (at 100 TB the
    int column is a far narrower scan than the string bytes). The
    column's semantics are the caller's responsibility — a normalized
    or whitespace-stripped count silently skews mean_word_len, which
    is why this is never inferred from the schema (r7 ADVICE)."""
    toks = F.split(text_col, " ")
    n_chars = (
        F.col(n_chars_col) if n_chars_col else F.length(text_col)
    )
    m = docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        ((n_chars - F.size(toks) + 1).cast("double") / F.size(toks)).alias(
            "mean_word_len"
        ),
        (
            F.size(F.filter(toks, lambda x: x.isin(*stopwords))).cast(
                "double"
            )
            / F.size(toks)
        ).alias("stop_frac"),
    )
    ok_length = F.col("n_tokens").between(min_tokens, max_tokens)
    ok_word_len = F.col("mean_word_len").between(min_word_len, max_word_len)
    ok_stop = F.col("stop_frac") >= min_stop_frac
    return m.select(
        F.col(id_col),
        "n_tokens",
        "mean_word_len",
        "stop_frac",
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        (ok_length & ok_word_len & ok_stop).alias("keep"),
    ).orderBy(id_col)


def sessionize(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_id_col: str = "event_id",
    value_col: str | None = "value",
    gap_minutes: float = 30,
) -> DataFrame:
    """Gap-based batch sessionization: a new session starts when the gap
    to the user's previous event exceeds ``gap_minutes`` (lag + running
    sum of new-session flags — the standard island-building recipe).
    ONE shuffle on the user key serves the lag, the running sum and the
    per-session aggregate. Returns per (user, session_idx): n_events,
    start_us, end_us, duration_us[, sum_value]."""
    gap_us = int(gap_minutes * 60 * 1_000_000)
    cols = [
        F.col(user_col).alias("user_id"),
        F.col(event_id_col).alias("event_id"),
        F.unix_micros(ts_col).alias("t_us"),
    ]
    if value_col:
        cols.append(F.col(value_col).alias("value"))
    ev = events.select(*cols)
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(F.col("t_us") - F.lag("t_us").over(w) > gap_us, 1).otherwise(
            0
        ),
    )
    runs = flagged.withColumn(
        "session_idx",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min("t_us").alias("start_us"),
        F.max("t_us").alias("end_us"),
        (F.max("t_us") - F.min("t_us")).alias("duration_us"),
    ]
    if value_col:
        aggs.append(F.sum(dec("value")).cast("double").alias("sum_value"))
    return (
        runs.groupBy("user_id", "session_idx")
        .agg(*aggs)
        .withColumnRenamed("user_id", user_col)
        .orderBy(user_col, "session_idx")
    )


def language_id(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    ngram: int = 3,
    profile_top_k: int = 20,
) -> DataFrame:
    """Character-n-gram language ID, the textcat/fastText-style
    classifier shape: per-language top-``profile_top_k`` character
    ``ngram`` profiles trained from the labeled corpus (deterministic
    count-desc cut), then each doc votes for the profile it overlaps
    most. Two corpus aggregations plus a broadcast of the (langs x
    top_k)-row profile back over exploded n-grams — train-then-score in
    one declarative plan; argmax ties break on (hits desc, lang) so
    predictions are shuffle-stable. Returns (id, labeled_lang,
    predicted_lang, n_hits, correct)."""
    # Texts under `ngram` chars yield no n-grams: unguarded,
    # sequence(1, n-k+1) would descend below 1 while a SQL
    # generate_series is empty.
    tri = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
    ).selectExpr(
        "doc_id",
        "lang",
        f"explode(CASE WHEN length(text) >= {ngram}"
        f" THEN array_distinct(transform(sequence(1, length(text) - {ngram - 1}),"
        f" i -> substring(text, i, {ngram})))"
        " ELSE array() END) AS g",
    ).localCheckpoint(eager=False)
    # ^ r15: the trigram frame feeds BOTH the profile aggregation and
    # the overlap probe side; un-pinned, the interpreted HOF char
    # enumeration (the query's cost center: 2.2 s warm per pass at
    # sf0.1) ran twice. Pinned, the whole query measured 5.4 -> 3.6 s.
    # Storage is (id, lang, 3-char gram) rows — the same
    # corpus-derived-frame checkpoint posture as semantic_dedup's cell
    # table; blocks are reaped by the ContextCleaner when the returned
    # plan is garbage-collected.
    wp = Window.partitionBy("lang").orderBy(F.desc("n"), "g")
    profile = (
        tri.groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") <= profile_top_k)
        .select(F.col("lang").alias("plang"), "g")
    )
    overlap = (
        tri.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), "plang")
    return (
        overlap.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias(id_col),
            F.col("lang").alias("labeled_lang"),
            F.col("plang").alias("predicted_lang"),
            "n_hits",
            F.when(F.col("lang") == F.col("plang"), 1)
            .otherwise(0)
            .alias("correct"),
        )
        .orderBy(id_col)
    )


def token_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bpe_chars_per_token: float = 4,
    n_chars_col: str | None = None,
) -> DataFrame:
    """Token counting for budget estimation: whitespace tokens, regex
    word-run splits, the chars/``bpe_chars_per_token`` BPE heuristic,
    and the space count — all row-local JVM expressions in one codegen
    stage, linear in corpus bytes. Returns (id, ws_tokens,
    nonword_runs, approx_bpe_tokens, n_spaces).

    ``n_chars_col`` — OPT-IN precomputed-length fast path for
    approx_bpe_tokens (see quality_filter; never inferred from the
    schema, because a caller's n_chars may not mean length(text))."""
    n_chars = (
        F.col(n_chars_col) if n_chars_col else F.length(text_col)
    )
    return docs.select(
        F.col(id_col),
        F.size(F.split(text_col, " ")).alias("ws_tokens"),
        (F.size(F.split(text_col, "[a-z]+")) - 1).alias("nonword_runs"),
        F.ceil(n_chars.cast("double") / bpe_chars_per_token).alias(
            "approx_bpe_tokens"
        ),
        (
            F.length(text_col)
            - F.length(F.regexp_replace(F.col(text_col), " ", ""))
        ).alias("n_spaces"),
    ).orderBy(id_col)


def perplexity_buckets(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al. 2020):
    score each document by mean corpus-token frequency in exact integer
    milli-units and split every language into ``n_buckets`` quantile
    buckets (1 = most fluent "head" … n = "tail"). Integer scores make
    the bucket boundaries bit-reproducible — no float ties at the cut.
    Returns per-doc (id, lang, score_milli, bucket).

    Scale: the frequency table is Zipf-bounded and broadcasts; the
    per-language ntile is a sort per language — at 100 TB swap it for
    approx-quantile boundaries (same bucket contract, no global sort)."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.col(lang_col).alias("lang"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    per_doc = (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n").alias("sum_freq"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score_milli").desc(), F.col("_id")
    )
    return (
        per_doc.select(
            "_id",
            "lang",
            F.expr("(sum_freq * 1000) div n_tokens").alias("score_milli"),
        )
        .select(
            F.col("_id").alias(id_col),
            "lang",
            "score_milli",
            F.ntile(n_buckets).over(w).alias("bucket"),
        )
        .orderBy(id_col)
    )


def sprt_monitor(
    trials: DataFrame,
    *,
    arm_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    success: Column | str = "success",
    p0: float = 0.35,
    p1: float = 0.40,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald sequential probability-ratio test per arm — the always-valid
    "peek after every trial" A/B monitor. Trials are ordered by
    ``order_cols`` within each arm; the cumulative LLR is a window
    prefix scan and the arm stops at the FIRST crossing of the Wald
    boundaries ln(beta/(1-alpha)) / ln((1-beta)/alpha). Arms that never
    cross report 'continue' with their final state. ``success`` is a
    boolean/0-1 column or column name. The four log constants are
    computed ONCE here in Python and injected as literals, so every
    row's LLR is one bit-deterministic multiply-add.

    CONTRACT: ``order_cols`` must be a UNIQUE ordering within each arm
    (the default appends ``event_id`` as the tiebreaker for exactly
    this reason). A sequential test is only well-defined over a total
    order of trials; with duplicate sort keys the cumulative k at a
    given n — and hence the first boundary crossing — would depend on
    partition-local tie order and differ run to run. When your natural
    order column (a timestamp) can collide, append any unique id
    column to ``order_cols`` rather than relying on engine tie order.

    Returns per arm: decision, n_at_decision, k_at_decision,
    llr_at_decision (float).

    Scale: one shuffle on the arm key (hot arms = AQE skew case), one
    filtered min-agg, two broadcast joins back — no driver loop."""
    import math

    la = math.log(p1 / p0)
    lb = math.log((1.0 - p1) / (1.0 - p0))
    upper = math.log((1.0 - beta) / alpha)
    lower = math.log(beta / (1.0 - alpha))
    succ = F.col(success) if isinstance(success, str) else success
    w = (
        Window.partitionBy(arm_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walk = trials.select(
        F.col(arm_col).alias("arm"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(succ.cast("int")).over(w).cast("long").alias("k"),
    )
    llrs = walk.select(
        "arm",
        "n",
        "k",
        (
            (F.col("k") * F.lit(la))
            + ((F.col("n") - F.col("k")) * F.lit(lb))
        ).alias("llr"),
    )
    crossed = (F.col("llr") >= upper) | (F.col("llr") <= lower)
    crossings = llrs.groupBy("arm").agg(
        F.min(F.when(crossed, F.col("n"))).alias("n_dec")
    )
    finals = llrs.groupBy("arm").agg(F.max("n").alias("n_total"))
    base = finals.join(F.broadcast(crossings), "arm", "left").select(
        F.col("arm").alias("_arm"),
        "n_dec",
        F.coalesce("n_dec", "n_total").alias("n_at_decision"),
    )
    return (
        llrs.join(
            F.broadcast(base),
            (llrs["arm"] == base["_arm"]) & (llrs["n"] == base["n_at_decision"]),
        )
        .select(
            F.col("_arm").alias(arm_col),
            F.when(F.col("n_dec").isNull(), "continue")
            .when(F.col("llr") >= upper, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
            "n_at_decision",
            F.col("k").alias("k_at_decision"),
            F.col("llr").cast("float").alias("llr_at_decision"),
        )
        .orderBy(arm_col)
    )


def grid_knn_join(
    points: DataFrame,
    *,
    id_col: str = "id",
    x_col: str = "lon_m",
    y_col: str = "lat_m",
    cell: int = 300000,
    k: int = 3,
    query_pred: Column | None = None,
) -> DataFrame:
    """Grid-blocked spatial k-nearest-neighbor self-join over integer
    coordinates: each query point probes its 3×3 cell neighborhood (one
    EQUI-join on the cell key), candidates pay an exact integer squared
    distance, and a per-query row_number keeps the top ``k``. Pass
    ``query_pred`` to restrict the probe side (the candidate side is
    always the full table). Coordinates must be integers (micro-degrees,
    millimeters — any fixed-point unit); integer distances mean no
    float ties in the ranking. Caveats as in any production grid kNN:
    a true k-th neighbor outside the 3×3 ring is missed unless the
    caller sizes ``cell`` so the ring bounds the k-NN radius
    (production expands the ring until k candidates are inside the
    guaranteed radius). Returns (id, rank, nbr_id, d2).

    Scale: probe side explodes 9×; one shuffle on the cell key; dense
    cells are the AQE skew-join case; top-k windows partition by query
    id — never global."""
    def _cells(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        ).select(
            "_id",
            "_x",
            "_y",
            # FLOOR division (all-integer, exact for any long): `div`
            # truncates toward zero, which would make cell 0 span
            # (-cell, cell) — double-width — for negative coordinates
            # (west longitudes, southern latitudes) and diverge from
            # the // semantics a DuckDB oracle uses. pmod-based keying
            # keeps cells uniform across the origin.
            F.expr(
                f"(_y - pmod(_y, {int(cell)})) div {int(cell)}"
            ).alias("cy"),
            F.expr(
                f"(_x - pmod(_x, {int(cell)})) div {int(cell)}"
            ).alias("cx"),
        )

    cells = _cells(points)
    # query_pred is evaluated against the CALLER's columns (pre-rename).
    probe_src = (
        _cells(points.where(query_pred)) if query_pred is not None else cells
    )
    probes = probe_src.select(
        "_id",
        "_x",
        "_y",
        F.explode(F.expr("array(cy - 1, cy, cy + 1)")).alias("cy"),
        "cx",
    ).select(
        "_id",
        "_x",
        "_y",
        "cy",
        F.explode(F.expr("array(cx - 1, cx, cx + 1)")).alias("cx"),
    )
    cand_side = cells.select(
        F.col("_id").alias("nbr_id"),
        F.col("_x").alias("nx"),
        F.col("_y").alias("ny"),
        "cy",
        "cx",
    )
    cand = (
        probes.join(cand_side, ["cy", "cx"])
        .where(F.col("_id") != F.col("nbr_id"))
        .select(
            "_id",
            "nbr_id",
            (
                (F.col("_y") - F.col("ny")) * (F.col("_y") - F.col("ny"))
                + (F.col("_x") - F.col("nx")) * (F.col("_x") - F.col("nx"))
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("_id").orderBy("d2", "nbr_id")
    return (
        cand.select(
            "_id", "nbr_id", "d2", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= k)
        .select(F.col("_id").alias(id_col), "rank", "nbr_id", "d2")
        .orderBy(id_col, "rank")
    )


def holt_smooth(
    series: DataFrame,
    *,
    key_col: str = "user_id",
    step_col: str = "day",
    y_col: str = "y",
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) per key over a
    pre-aggregated (key, step, y) series — the canonical shape for
    SEQUENTIAL per-key recurrences no window frame can express: one
    `applyInPandas` pass per key runs the O(steps) scan, Arrow-batched,
    state never leaving the executor. Initialization: level = first
    observation, trend = 0. With α=β=0.5 (exact binary fractions) the
    recurrence is bit-reproducible across engines; other smoothing
    weights are deterministic within Spark but carry the usual
    last-ulp caveat cross-engine. Returns per (key, step):
    idx, y, level, trend, forecast_next (floats).

    Key and step columns keep their ORIGINAL types end-to-end: the
    applyInPandas output schema is derived from ``series.schema`` (a
    string user id or a numeric epoch key round-trips through Arrow
    unchanged), and the sequence index orders by the original step
    column — a numeric step (int day index, epoch seconds) orders
    numerically, never by its string image ('10' < '2').

    Scale: one shuffle on the key; series length is bounded by the
    step calendar, so each pandas group stays small; parallelism comes
    from key count."""
    import pandas as pd

    key_dt = series.schema[key_col].dataType.simpleString()
    step_dt = series.schema[step_col].dataType.simpleString()
    seq = series.select(
        F.col(key_col).alias("_key"),
        F.col(step_col).alias("step"),
        F.col(y_col).cast("double").alias("y"),
    ).select(
        "_key",
        "step",
        "y",
        F.row_number()
        .over(
            Window.partitionBy("_key").orderBy("step")
        )
        .cast("long")
        .alias("idx"),
    )
    a, b_w = float(alpha), float(beta)

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx").reset_index(drop=True)
        levels, trends = [], []
        l = b = 0.0
        for i, y in enumerate(pdf["y"]):
            if i == 0:
                l, b = float(y), 0.0
            else:
                l_new = a * float(y) + (1.0 - a) * (l + b)
                b = b_w * (l_new - l) + (1.0 - b_w) * b
                l = l_new
            levels.append(l)
            trends.append(b)
        pdf["level"] = pd.Series(levels, dtype="float64").astype("float32")
        pdf["trend"] = pd.Series(trends, dtype="float64").astype("float32")
        pdf["forecast_next"] = pd.Series(
            [lv + tr for lv, tr in zip(levels, trends)], dtype="float64"
        ).astype("float32")
        return pdf[["_key", "step", "idx", "y", "level", "trend", "forecast_next"]]

    out = seq.groupBy("_key").applyInPandas(
        holt,
        schema=(
            f"_key {key_dt}, step {step_dt}, idx bigint, y double, "
            "level float, trend float, forecast_next float"
        ),
    )
    return out.select(
        F.col("_key").alias(key_col),
        F.col("step").alias(step_col),
        "idx",
        "y",
        "level",
        "trend",
        "forecast_next",
    ).orderBy(key_col, "idx")


def hampel_filter(
    series: DataFrame,
    *,
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
    value_col: str = "value",
    half_window: int = 3,
    k: float = 3.0,
) -> DataFrame:
    """Hampel robust outlier filter per key stream: flag rows deviating
    from their (2*half_window+1)-row centered rolling MEDIAN by more
    than ``k`` times the rolling MAD. One window pass, zero self-joins:
    the neighborhood is collected as a sorted array and median/MAD are
    JVM-side array expressions.

    ``value_col`` should be an INTEGER-valued column (fixed-point
    units: cents, micro-units) for bit-deterministic results — medians
    of ints interpolate to dyadic rationals, exact in doubles; ``k``
    defaults to the classic 3.0 (dyadic, so the cut is exact too).
    ``order_cols`` must uniquely order rows within a key (same contract
    as sprt_monitor). In a zero-MAD window (a constant neighborhood)
    ANY deviation flags — k*0 is a zero bound, the standard Hampel
    degenerate-window behavior that catches a spike in a flat signal;
    the ``k`` knob is deliberately inert there (this is the chosen
    contract, pinned by test_hampel_filter_k_and_window_knobs): to
    suppress zero-MAD flagging, pre-filter rows whose window MAD is 0.
    Returns flagged rows:
    (key, order_cols..., value, window_median, window_mad).

    Scale: one shuffle on the key; per-row state is a
    (2*half_window+1)-element array; no O(n^2) neighbor join."""
    hw = int(half_window)
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-hw, hw)
    )
    win = series.select(
        key_col,
        *order_cols,
        F.col(value_col).cast("long").alias("_x"),
        F.array_sort(
            F.collect_list(F.col(value_col).cast("long")).over(w)
        ).alias("_arr"),
    )

    def _median_sql(arr: str, size: str) -> str:
        return f"""CASE WHEN {size} % 2 = 1
            THEN CAST(element_at({arr}, CAST(({size} + 1) div 2 AS INT)) AS DOUBLE)
            ELSE (element_at({arr}, CAST({size} div 2 AS INT))
                  + element_at({arr}, CAST({size} div 2 + 1 AS INT))) / 2.0
        END"""

    med = win.selectExpr(
        "*",
        "size(_arr) AS _s",
    ).selectExpr(
        "*",
        f"{_median_sql('_arr', '_s')} AS _med",
    )
    scored = med.selectExpr(
        "*",
        "array_sort(transform(_arr, v -> abs(v - _med))) AS _devs",
    ).selectExpr(
        key_col,
        *order_cols,
        "_x",
        "_med",
        f"{_median_sql('_devs', '_s')} AS _mad",
    )
    return (
        scored.where(
            F.abs(F.col("_x") - F.col("_med")) > F.lit(float(k)) * F.col("_mad")
        )
        .select(
            key_col,
            *order_cols,
            F.col("_x").alias(value_col),
            F.col("_med").alias("window_median"),
            F.col("_mad").alias("window_mad"),
        )
        .orderBy(key_col, *order_cols)
    )


def apriori_triples(
    baskets: DataFrame,
    *,
    basket_col: str = "doc_id",
    item_col: str = "tok",
    min_support_num: int = 11,
    min_support_den: int = 20,
) -> DataFrame:
    """A-priori frequent 3-itemset mining over (basket, item) rows with
    a RELATIVE support threshold ceil(baskets * num/den) — exact
    integer arithmetic, so the cut is engine-independent and the query
    is replication-invariant. Monotonicity prunes each level: frequent
    items L1 filter the stream, frequent pairs L2 filter again, and
    candidate triples require all three sub-pairs in L2 before any
    instance counting. Returns (t1, t2, t3, support), t1 < t2 < t3.

    Scale: L1/L2/C3 broadcast (the frequent set is Zipf-tiny);
    pair/triple generation is per-basket and bounded by the pruned
    per-basket item count; nothing groups by basket."""
    num, den = int(min_support_num), int(min_support_den)
    dt = baskets.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    # dt feeds THREE consumers (minsup, L1, the per-basket arrays) and
    # Spark re-evaluates shared subplans per use — without a barrier
    # the explode+distinct over the full token stream runs three
    # times. The distinct set is corpus-bounded (docs x vocab, and
    # vocab is Zipf-tiny), so materialize it once; same reasoning as
    # pipeline_dedup_funnel's localCheckpointed id sets.
    dt = dt.localCheckpoint(eager=True)
    ms = dt.agg(
        F.expr(
            f"({num} * CAST(COUNT(DISTINCT _b) AS BIGINT) + {den - 1})"
            f" div {den}"
        ).alias("minsup")
    )
    l1 = (
        dt.groupBy("_i")
        .agg(F.count(F.lit(1)).alias("sup"))
        .crossJoin(F.broadcast(ms))
        .where(F.col("sup") >= F.col("minsup"))
        .select("_i")
    )
    # Dictionary-encode the frequent vocabulary (round-10 profile:
    # the string formulation exploded ~9M struct<string,string,string>
    # triples at sf0.1 and broadcast-joined on three string columns —
    # 22 s of a 16.5 s bench query's budget lived in string hashing and
    # copying; the C3-token prune removed nothing there because every
    # frequent token participated in a candidate). Ids are assigned in
    # TOKEN SORT ORDER over the L1 vocabulary — id order ==
    # lexicographic token order, so the t1<t2<t3 enumeration contract
    # survives encoding — and 21 bits per id packs a whole pair/triple
    # into ONE non-negative bigint (max key M^3-1 = 2^63-1):
    # enumeration explodes bare longs, candidate filtering is a
    # single-long equi-join, aggregation hashes one word, and only the
    # final (support-filtered, tiny) result decodes back to strings
    # via broadcast lookups. The vocabulary-sized row_number window is
    # a single partition by construction — L1 is Zipf-tiny.
    m_pack = 1 << 21
    wid = Window.orderBy("_i")
    tok2id = l1.select(
        "_i",
        F.when(
            (F.row_number().over(wid) - 1) < F.lit(m_pack),
            (F.row_number().over(wid) - 1),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "apriori_triples: frequent-item vocabulary exceeds"
                    " 2^21 — the packed-bigint triple key would"
                    " overflow; raise min_support or widen the packing"
                )
            )
        )
        .cast("long")
        .alias("_id"),
    ).localCheckpoint(eager=True)
    # One shuffle builds the per-basket SORTED frequent-id array;
    # every combination after this is a JVM array expression feeding a
    # map-side partial aggregation — no pair/triple instance ever
    # crosses the wire (the shuffle carries at most |candidate| groups
    # per partition, not sum_basket C(k,2|3) rows; the join-based
    # formulation pushed millions of instance rows through join
    # machinery and was 10x slower at the x10 replica).
    items = (
        dt.join(F.broadcast(tok2id), "_i")
        .groupBy("_b")
        .agg(F.sort_array(F.collect_set("_id")).alias("items"))
    )
    # r15: pair/triple enumeration moved from nested HOF expressions
    # (interpreted lambda per emitted element — measured 4.7 s of the
    # 7 s sf0.1 query on the dense worst case) to the vectorized NumPy
    # combination counter (functions/combos.py): same packed keys over
    # the same sorted arrays, same map-side partial-count shape.
    l2 = (
        packed_combo_counts(items, r=2, pack=m_pack)
        .groupBy("tk")
        .agg(F.sum("cnt").alias("sup"))
        .crossJoin(F.broadcast(ms))
        .where(F.col("sup") >= F.col("minsup"))
        .select(
            F.expr(f"tk div {m_pack}").alias("t1"),
            (F.col("tk") % m_pack).alias("t2"),
        )
    )
    # L2 feeds FIVE consumers (the x/y/z self-join legs, and through
    # c3 both the token-prune set and the exact candidate filter);
    # un-materialized, the per-basket C(k,2) pair enumeration above
    # re-runs for every leg. L2 is the frequent-pair set — Zipf-tiny
    # by definition — so one eager materialization here collapses
    # five enumeration passes into one.
    l2 = l2.localCheckpoint(eager=True)
    x = l2.select(F.col("t1").alias("x1"), F.col("t2").alias("x2"))
    y = l2.select(F.col("t1").alias("y1"), F.col("t2").alias("y2"))
    z = l2.select(F.col("t1").alias("z1"), F.col("t2").alias("z2"))
    c3 = (
        x.join(y, (F.col("x1") == F.col("y1")) & (F.col("x2") < F.col("y2")))
        .join(z, (F.col("z1") == F.col("x2")) & (F.col("z2") == F.col("y2")))
        .select(
            F.col("x1").alias("c1"),
            F.col("x2").alias("c2"),
            F.col("y2").alias("c3"),
        )
    )
    # The candidate set is Zipf-tiny by the A-priori argument (it
    # survived two support cuts) — materialize it driver-side once
    # (candidate-sized, same class as the broadcast it replaces): it
    # feeds the map-side np.isin candidate filter AND the token prune
    # below, with no extra Spark jobs.
    c3_keys = np.array(
        sorted(
            (r["c1"] * m_pack + r["c2"]) * m_pack + r["c3"]
            for r in c3.collect()
        ),
        dtype=np.int64,
    )
    # C3-token prune: before enumerating per-basket triples, intersect
    # the sorted id array with the DISTINCT id set of the C3 candidates
    # (broadcast, Zipf-tiny). Necessary-not-sufficient — an id absent
    # from every candidate triple can never appear in a surviving
    # enumeration, so dropping it first shrinks C(k,3) cubically; the
    # np.isin candidate filter still does the exact sufficiency check.
    # array_intersect preserves the first argument's (sorted) order,
    # so the t1<t2<t3 enumeration contract holds. This is what keeps
    # the miner usable at LOW support thresholds, where the unpruned
    # per-basket k grows.
    c3_id_list = sorted(
        {int(x) for k in c3_keys for x in
         (k // (m_pack * m_pack), (k // m_pack) % m_pack, k % m_pack)}
    )
    c3_ids = items.sparkSession.createDataFrame(
        [(c3_id_list,)], "_c3_ids array<long>"
    )
    pruned = (
        items.crossJoin(F.broadcast(c3_ids))
        .select(F.array_intersect("items", "_c3_ids").alias("items"))
        .where(F.size("items") >= 3)
    )
    sup = (
        packed_combo_counts(
            pruned, r=3, pack=m_pack, candidates=c3_keys
        )
        .groupBy("tk")
        .agg(F.sum("cnt").cast("long").alias("support"))
        .crossJoin(F.broadcast(ms))
        .where(F.col("support") >= F.col("minsup"))
        .select("tk", "support")
    )
    id2tok = tok2id.select(F.col("_id").alias("_d"), F.col("_i").alias("_t"))
    dec = sup.select(
        F.expr(f"tk div {m_pack * m_pack}").alias("i1"),
        F.expr(f"(tk div {m_pack}) % {m_pack}").alias("i2"),
        (F.col("tk") % m_pack).alias("i3"),
        "support",
    )
    return (
        dec.join(F.broadcast(id2tok.withColumnRenamed("_d", "i1")), "i1")
        .withColumnRenamed("_t", "t1")
        .join(F.broadcast(id2tok.withColumnRenamed("_d", "i2")), "i2")
        .withColumnRenamed("_t", "t2")
        .join(F.broadcast(id2tok.withColumnRenamed("_d", "i3")), "i3")
        .withColumnRenamed("_t", "t3")
        .select("t1", "t2", "t3", "support")
        .orderBy("t1", "t2", "t3")
    )


def mann_whitney_u(
    trials: DataFrame,
    *,
    value: Column | str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U rank-sum statistic between two groups. ``value``
    must be an INTEGER-valued column/expression (fixed-point your data
    first) — average ranks for ties are kept in exact x2 integer units
    so the result is bit-deterministic at any parallelism. Returns one
    row: (n1, n2, r1_sum_x2, u1_x2, u2_x2, tie_term), where tie_term =
    sum(t^3 - t) feeds the tie-corrected variance
    n1*n2/12 * ((n+1) - tie_term/(n*(n-1))).

    Scale: ranks are computed per DISTINCT VALUE (one groupBy
    compresses rows to the value domain) with a prefix-sum window over
    that domain-sized table; at an unbounded domain shard the prefix
    sum into range buckets with per-bucket offsets."""
    v = F.col(value) if isinstance(value, str) else value
    pool = trials.where(
        F.col(group_col).isin(group_a, group_b)
    ).select(
        v.cast("long").alias("v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("g1"),
    )
    per_v = pool.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("g1").cast("long").alias("t1"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "t",
        "t1",
        F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long").alias("below"),
    )
    agg = ranked.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("long").alias("n2"),
        F.sum(F.col("t1") * (2 * F.col("below") + F.col("t") + 1))
        .cast("long")
        .alias("r1_sum_x2"),
        F.sum(
            F.when(
                F.col("t") > 1,
                F.col("t") * F.col("t") * F.col("t") - F.col("t"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("tie_term"),
    )
    u1 = F.col("r1_sum_x2") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        "n1",
        "n2",
        "r1_sum_x2",
        u1.alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1).alias("u2_x2"),
        "tie_term",
    )


def ks_two_sample(
    trials: DataFrame,
    *,
    value: Column | str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two groups.
    ``value`` must be an INTEGER-valued column/expression (fixed-point
    your data first). D = max_v |F1(v) - F2(v)| is kept EXACT as the
    integer numerator over the implied n1*n2 denominator:
    ks_num = max_v |c1(v)*n2 - c2(v)*n1| where c_i are cumulative
    counts — zero float comparisons decide the max, so the result is
    bit-deterministic at any parallelism. Returns one row:
    (n1, n2, ks_num, at_v, ks_d) with at_v the SMALLEST value
    attaining the max (a total order pins ties) and
    ks_d = ks_num/(n1*n2) one correctly-rounded IEEE division of
    exact integers.

    Scale: same shape as mann_whitney_u — one groupBy compresses N
    rows to the distinct-value domain, one prefix-sum window over that
    domain-sized table, one tiny broadcast of (n1, n2); at an
    unbounded domain shard the prefix sum into range buckets with
    per-bucket offsets."""
    v = F.col(value) if isinstance(value, str) else value
    pool = trials.where(
        F.col(group_col).isin(group_a, group_b)
    ).select(
        v.cast("long").alias("v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("g1"),
    )
    per_v = pool.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("g1").cast("long").alias("t1"),
    )
    tot = per_v.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("long").alias("n2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        "v",
        F.sum("t1").over(w).cast("long").alias("c1"),
        F.sum(F.col("t") - F.col("t1")).over(w).cast("long").alias("c2"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n1",
        "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
        .cast("long")
        .alias("ks_num"),
    )
    return (
        d.orderBy(F.col("ks_num").desc(), "v")
        .limit(1)
        .select(
            "n1",
            "n2",
            "ks_num",
            F.col("v").alias("at_v"),
            (F.col("ks_num") / (F.col("n1") * F.col("n2"))).alias("ks_d"),
        )
    )


def welch_ttest(
    trials: DataFrame,
    *,
    value: Column | str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups — the default
    two-sample mean test for A/B experiments (never assumes equal
    variances, so it is safe under imbalanced arms). ``value`` must be
    an INTEGER-valued column/expression (fixed-point your data first).

    Returns one row: (n_a, n_b, mean_a, mean_b, welch_t, welch_df).
    The sufficient statistics (n, Σx, Σx²) accumulate as exact
    integers (DECIMAL(38,0) sums — mergeable, order-free, bit-exact at
    any parallelism), then the t statistic and Welch–Satterthwaite df
    are ONE fixed double expression tree over those exact sums: every
    operation (+,-,*,/,sqrt) is correctly-rounded IEEE, so any engine
    evaluating the same tree from the same integers produces the same
    bits. means emit in the fixed-point input units.

    Scale: a single map-combined aggregation over the filtered stream —
    six numbers of state total, no second pass, no shuffle beyond the
    1-row combine. The classic two-pass Σ(x-mean)² formulation needs
    the mean first; the power-sum identity is what makes the test
    mergeable across 1000 executors."""
    v = F.col(value) if isinstance(value, str) else value
    d38 = "decimal(38,0)"
    pool = trials.where(F.col(group_col).isin(group_a, group_b)).select(
        # decimal(19,0) per-row values keep x*x exact and loud: the
        # d38 product cannot silently wrap for any |x| < 1e19 units.
        v.cast("long").cast("decimal(19,0)").alias("x"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("g1"),
    )
    x2 = (F.col("x") * F.col("x")).cast(d38)
    zero = F.lit(0).cast(d38)
    sums = pool.agg(
        F.sum("g1").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("g1")).cast("long").alias("n_b"),
        # string-hop decimal->double: both engines parse the exact
        # integer's decimal text with correctly-rounded semantics.
        F.sum(F.when(F.col("g1") == 1, F.col("x").cast(d38)).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("s1a"),
        F.sum(F.when(F.col("g1") == 1, x2).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("s2a"),
        F.sum(F.when(F.col("g1") == 0, F.col("x").cast(d38)).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("s1b"),
        F.sum(F.when(F.col("g1") == 0, x2).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("s2b"),
    )
    # The whole tree below mirrors the oracle SQL token-for-token:
    # mean = s1/n; se2 = ((s2 - mean*s1)/(n-1))/n.
    mean_a = F.col("s1a") / F.col("n_a")
    mean_b = F.col("s1b") / F.col("n_b")
    se2a = ((F.col("s2a") - mean_a * F.col("s1a")) / (F.col("n_a") - 1)) / F.col("n_a")
    se2b = ((F.col("s2b") - mean_b * F.col("s1b")) / (F.col("n_b") - 1)) / F.col("n_b")
    return sums.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        ((mean_a - mean_b) / F.sqrt(se2a + se2b)).alias("welch_t"),
        (
            (se2a + se2b)
            * (se2a + se2b)
            / (se2a * se2a / (F.col("n_a") - 1) + se2b * se2b / (F.col("n_b") - 1))
        ).alias("welch_df"),
    )


def psi_drift(
    frame: DataFrame,
    *,
    value: Column | str,
    group_col: str,
    time_col: str = "ts",
    bucket_width: int = 10000,
    smoothing: int = 1,
) -> DataFrame:
    """Population Stability Index per group — the standard ML-ops
    drift metric: how far the value distribution of the newer half of
    the data has moved from the older half. ``value`` must be an
    INTEGER-valued column/expression (fixed-point your data first);
    the series splits at the exact integer midpoint of the observed
    ``time_col`` range (watermark semantics — a backfilled rerun and
    the oracle agree forever), histograms over fixed ``bucket_width``
    buckets, Laplace ``smoothing`` so empty buckets contribute finite
    terms. Buckets use FLOOR division (exact-integer ``(x - pmod) div
    w``), matching the oracle's ``//`` on negative values, and a group
    whose rows all fall in one time half (a retired or late-starting
    group — the midpoint is global) still gets finite terms: the empty
    half's total is coalesced to 0 so every bucket contributes the
    pure-smoothing rate s/(s·n_buckets). Returns one row per group:
    (group, n_buckets, psi) with psi FLOAT-cast (counts, totals, split
    and grid are exact integers; only the final (p-q)·ln(p/q)
    reduction runs in libm doubles).

    PSI < 0.1 is conventionally stable, 0.1-0.25 drifting, > 0.25
    actionable.

    Scale: one map-combined groupBy compresses the stream to the
    (group, bucket, half) grid — fixed bucket width makes the grid
    value-domain-sized, not row-sized; the PSI reduction runs over
    that tiny grid and the time midpoint rides a 1-row broadcast."""
    v = F.col(value) if isinstance(value, str) else value
    s = int(smoothing)
    pool = frame.select(
        F.col(group_col).alias("_g"),
        v.cast("long").alias("_x"),
        F.unix_micros(F.col(time_col)).alias("_us"),
    )
    wm = pool.agg(
        F.expr(
            "(CAST(MIN(_us) AS BIGINT) + CAST(MAX(_us) AS BIGINT)) div 2"
        ).alias("_mid")
    )
    bw = int(bucket_width)
    halves = pool.crossJoin(F.broadcast(wm)).select(
        "_g",
        F.expr(f"(_x - pmod(_x, {bw})) div {bw}").alias("_bucket"),
        F.when(F.col("_us") <= F.col("_mid"), 0).otherwise(1).alias("_cur"),
    )
    counts = halves.groupBy("_g", "_bucket", "_cur").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    return _psi_from_counts(counts, smoothing=s, group_col=group_col)


def _psi_from_counts(
    counts: DataFrame, *, smoothing: int, group_col: str
) -> DataFrame:
    """The PSI reduction over a pre-aggregated (_g, _bucket, _cur, _n)
    histogram — factored out so the STREAMING leg
    (streaming/queries.stream_psi_drift accumulates the same histogram
    via foreachBatch) reduces through the IDENTICAL expression tree and
    stays bit-equal to the batch operator."""
    s = int(smoothing)
    buckets = counts.select("_g", "_bucket").distinct()
    nb = buckets.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    tot = counts.groupBy("_g", "_cur").agg(F.sum("_n").cast("long").alias("_t"))
    spark = counts.sparkSession
    h = spark.range(2).select(F.col("id").cast("int").alias("_cur"))
    grid = (
        buckets.crossJoin(F.broadcast(h))
        .join(counts, ["_g", "_bucket", "_cur"], "left")
        .join(tot, ["_g", "_cur"], "left")
        .join(F.broadcast(nb), "_g")
        .select(
            "_g",
            "_bucket",
            "_cur",
            F.coalesce(F.col("_n"), F.lit(0)).alias("_n"),
            F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("_t"),
            "n_buckets",
        )
    )
    rate = (F.col("_n") + s).cast("double") / (
        F.col("_t") + s * F.col("n_buckets")
    )
    rates = grid.groupBy("_g", "_bucket", "n_buckets").agg(
        F.max(F.when(F.col("_cur") == 0, rate)).alias("_p"),
        F.max(F.when(F.col("_cur") == 1, rate)).alias("_q"),
    )
    return (
        rates.groupBy("_g")
        .agg(
            F.max("n_buckets").cast("long").alias("n_buckets"),
            F.sum(
                (F.col("_p") - F.col("_q")) * F.log(F.col("_p") / F.col("_q"))
            )
            .cast("float")
            .alias("psi"),
        )
        .select(F.col("_g").alias(group_col), "n_buckets", "psi")
        .orderBy(group_col)
    )


def permutation_test(
    trials: DataFrame,
    *,
    value: Column | str,
    group_col: str,
    group_a: str,
    group_b: str,
    unit_col: str = "event_id",
    n_resamples: int = 64,
) -> DataFrame:
    """Monte-Carlo randomization test for the difference in group means
    — the assumption-free companion to ``welch_ttest`` (no normality,
    no variance model: under H0 the labels are exchangeable, so the
    observed mean difference is ranked against relabeled replicas).
    ``value`` must be an INTEGER-valued column/expression (fixed-point
    your data first).

    Replicas use deterministic RANDOM RELABELING: replica r assigns
    each unit the pseudo-label (pmod(unit, P) * 2654435761 + r *
    40503) % P % 2 with P = 2^31 - 1 — a fixed LCG mix evaluated
    identically by any engine (no engine hash() in the plan, so the
    oracle twin reproduces every replica bit-for-bit; pmod keeps the
    label in {0,1} even for NEGATIVE unit ids, where a sign-keeping
    ``%`` would silently empty one arm of every replica). Returns one
    row: (n_a, n_b, diff_obs, n_resamples, n_as_extreme, p_value)
    where n_as_extreme counts replicas with |diff_r| >= |diff_obs| (an
    exact integer — the double comparisons feeding it are fixed
    expression trees over exact sums) and p_value = (n_as_extreme + 1)
    / (n_resamples + 1), the standard add-one Monte-Carlo estimate. A
    degenerate replica that assigns every unit one label has no
    defined diff and is counted as extreme — the conservative
    direction (inflates, never deflates, the p-value).

    Known bias, documented: relabeling is ~50/50 per unit and does NOT
    preserve the observed arm sizes (n_a, n_b). Under heavily
    imbalanced arms the replica diff distribution has LARGER variance
    than the true size-preserving permutation null, so p-values are
    biased conservative (toward non-significance) — the safe direction
    for a launch gate, but not the exact permutation test; use
    welch_ttest alongside when arms are far from balanced.

    Scale: ONE pass — each row explodes to ``n_resamples`` (replica,
    label) pairs that feed an immediate map-side partial aggregation,
    so the shuffle carries 2·n_resamples groups per partition, never
    the fanned stream; the replica ranking is a broadcast of one
    observed row against an n_resamples-row table. CPU is n_resamples
    × one linear scan — the documented cost of distribution-free
    inference; tune n_resamples to the p-value resolution needed."""
    v = F.col(value) if isinstance(value, str) else value
    big_p = 2147483647
    r_n = int(n_resamples)
    pool = trials.where(F.col(group_col).isin(group_a, group_b)).select(
        F.col(unit_col).alias("_u"),
        v.cast("long").alias("_x"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("_g1"),
    )
    obs = pool.agg(
        F.sum("_g1").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("_g1")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("_g1") == 1, F.col("_x")).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(F.col("_g1") == 0, F.col("_x")).otherwise(0))
        .cast("long")
        .alias("s_b"),
    ).select(
        "n_a",
        "n_b",
        (
            F.col("s_a") / F.col("n_a") - F.col("s_b") / F.col("n_b")
        ).alias("diff_obs"),
    )
    fanned = pool.select(
        "_x",
        F.explode(
            F.array(*[F.lit(r).cast("long") for r in range(1, r_n + 1)])
        ).alias("_r"),
        "_u",
    ).select(
        "_x",
        "_r",
        (
            (
                F.pmod(F.col("_u"), F.lit(big_p)) * F.lit(2654435761)
                + F.col("_r") * F.lit(40503)
            )
            % big_p
            % 2
        ).alias("_lbl"),
    )
    per = fanned.groupBy("_r", "_lbl").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_s"),
    )
    diffs = per.groupBy("_r").agg(
        (
            F.max(F.when(F.col("_lbl") == 1, F.col("_s"))).cast("long")
            / F.max(F.when(F.col("_lbl") == 1, F.col("_n"))).cast("long")
            - F.max(F.when(F.col("_lbl") == 0, F.col("_s"))).cast("long")
            / F.max(F.when(F.col("_lbl") == 0, F.col("_n"))).cast("long")
        ).alias("_d")
    )
    return (
        diffs.crossJoin(F.broadcast(obs))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max("diff_obs").alias("diff_obs"),
            F.count(F.lit(1)).cast("long").alias("n_resamples"),
            F.sum(
                F.when(
                    F.col("_d").isNull()
                    | (F.abs(F.col("_d")) >= F.abs(F.col("diff_obs"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_as_extreme"),
        )
        .select(
            "n_a",
            "n_b",
            "diff_obs",
            "n_resamples",
            "n_as_extreme",
            (
                (F.col("n_as_extreme") + 1) / (F.col("n_resamples") + 1)
            ).alias("p_value"),
        )
    )


def incremental_minhash_dedup(
    docs: DataFrame,
    is_new: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_rows: int = 2,
    threshold: float = 0.9,
) -> DataFrame:
    """Incremental near-dup dedup: flag docs of an incoming batch
    (``is_new``) that near-duplicate the EXISTING corpus — the shape a
    production ingest pipeline actually runs daily (dedupe the delta
    against the index, never re-dedupe the corpus). Signature, bands
    and verify are the shared builders of ``functions/shingles.py``
    (the same banding rules as ``minhash_dedup``); the candidate join is
    new-bands ⋈ corpus-bands on (band, band_key), so candidate volume
    is Θ(new × collisions), never corpus² — and in production the
    corpus side is the PRECOMPUTED signature store (here recomputed
    from the fixture; the signatures are deterministic, so a stored
    and a recomputed corpus band table are bit-identical). Each new
    doc verifies by exact token-set Jaccard against its MIN-id corpus
    collision only (work bounded at new-docs × bands), and rows
    (id, dup_of, jaccard) at jaccard ≥ ``threshold`` come back —
    the keep/drop decision for the batch."""
    vocab = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.split(text_col, " ")).alias("toks"),
        is_new.cast("int").alias("is_new"),
    )
    toks = vocab.select("doc_id", "is_new", F.explode("toks").alias("sh"))
    minh = minhash_signature(toks, ["doc_id", "is_new"], n_hashes)
    bands = lsh_bands(minh, ["doc_id", "is_new"], n_hashes, band_rows)
    new_b = bands.where(F.col("is_new") == 1).select(
        F.col("doc_id").alias("new_id"), "band", "band_key"
    )
    # Corpus side pre-aggregated to ONE min-id per (band, band_key)
    # bucket BEFORE the join (r12): the verify step only ever uses the
    # global MIN colliding corpus id, and min-of-bucket-mins equals
    # min-over-all-collisions, so the result is bit-identical while
    # candidate volume drops from Θ(batch × bucket width) to
    # Θ(batch × bands) — immune to degenerate band keys. Measured on
    # an organically-grown ×10 corpus whose 31-token fixture
    # vocabulary collapses unigram signatures into a handful of
    # buckets: 788M candidate pairs → 200k, 65 s → seconds
    # (SCALING.md round-12). In production the bucket-min table IS
    # the precomputed signature store (smaller than per-doc bands).
    corp_buckets = (
        bands.where(F.col("is_new") == 0)
        .groupBy("band", "band_key")
        .agg(F.min("doc_id").alias("bmin"))
    )
    cands = (
        new_b.join(corp_buckets, ["band", "band_key"])
        .groupBy("new_id")
        .agg(F.min("bmin").alias("rep"))
    )
    return (
        jaccard_verify(cands, vocab, "new_id", "rep", id_col)
        .where(F.col("jaccard") >= threshold)
        .orderBy(id_col)
    )


def harmonic_centrality(
    edges: DataFrame,
    roots: int = 100,
    max_level: int = 3,
) -> DataFrame:
    """Truncated harmonic closeness centrality (Boldi & Vigna) for the
    top-``roots`` highest-out-degree nodes of a directed edge list —
    the public, parameterized core of ``graph_harmonic_centrality``
    (r11 verdict #5: the root cap and hop limit are the two scale
    knobs; they were hard-coded at 100/3, which measured 127 s at the
    ×10 replica — the most expensive registered query at scale).

    ``edges`` must have ``src``/``dst`` columns. Returns one row per
    root: ``node, degree, n_l1..n_l{max_level}`` (nodes first reached
    at each level) and ``harmonic_scaled`` = Σ_levels unit/lvl ·
    n_lvl where unit = lcm(1..max_level) — the 1/d harmonic sum kept
    EXACT in integer units (unit=6 for the default 3 levels, hence
    the registered query's ``harmonic_sixths``), so rankings are
    bit-reproducible at any parallelism with zero float arithmetic.

    Cost model (what the knobs buy): each level is one equi-join of
    the DISTINCT-compressed (root, node) frontier against the edge
    list, so total join work is O(roots · |E| · max_level) worst-case
    and the frontier state never exceeds roots · |V|. Halving roots
    halves the work linearly; dropping a level removes the widest
    join (the last frontier is the largest). Measured at the 6M-row
    ×10 replica (SCALING.md round-12): roots=100/L=3 → 127 s (r11),
    roots=32/L=2 → the documented low-cost config. For L beyond ~4-5
    on a connected graph the truncated-exact formulation stops being
    the right tool (the frontier saturates toward |V| per root) —
    switch to HyperBall-style HLL sketches, which replace the
    per-(root, node) frontier with a fixed-width register array per
    node and estimate ALL nodes' neighborhood functions at once.
    """
    import math

    unit = math.lcm(*range(1, max_level + 1))
    edges = edges.select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    root_df = deg.orderBy(F.desc("d"), "node").limit(roots)
    frontier = root_df.select(F.col("node").alias("root"), F.col("node"))
    levels = []
    for lvl in range(1, max_level + 1):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select("root", F.col("dst").alias("node"))
            .distinct()
            # r15: each frontier feeds the NEXT level's expansion AND
            # its own union leg — un-pinned, level k's plan re-ran
            # levels 1..k-1's joins per leg (level 1 evaluated
            # max_level times; measured 44 s for the registered
            # 100-root/3-hop config at sf0.1). Frontier state is the
            # documented roots·|V| bound, the thing this formulation
            # already holds in memory.
            .localCheckpoint(eager=False)
        )
        levels.append(frontier.withColumn("lvl", F.lit(lvl).cast("long")))
    unioned = levels[0]
    for f in levels[1:]:
        unioned = unioned.unionAll(f)
    reach = (
        unioned.where(F.col("node") != F.col("root"))
        .groupBy("root", "node")
        .agg(F.min("lvl").alias("lvl"))
    )
    level_counts = [
        F.sum(F.when(F.col("lvl") == lvl, 1).otherwise(0))
        .cast("long")
        .alias(f"n_l{lvl}")
        for lvl in range(1, max_level + 1)
    ]
    expr = F.when(F.col("lvl") == 1, unit)
    for lvl in range(2, max_level + 1):
        expr = expr.when(F.col("lvl") == lvl, unit // lvl)
    return (
        reach.groupBy(F.col("root").alias("node"))
        .agg(
            *level_counts,
            F.sum(expr).cast("long").alias("harmonic_scaled"),
        )
        .join(F.broadcast(root_df.select("node", "d")), "node")
        .select(
            "node",
            F.col("d").alias("degree"),
            *[f"n_l{lvl}" for lvl in range(1, max_level + 1)],
            "harmonic_scaled",
        )
        .orderBy(F.desc("harmonic_scaled"), "node")
    )
