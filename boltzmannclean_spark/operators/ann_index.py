"""ANN index lifecycle: build once, persist, query many times
(SURVEY.md §2.B similarity family).

At 100 TB an ANN index is not retrained inside every query — the
codebooks (PQ) and coarse-quantizer cell assignments (IVF) are trained
in ONE offline job, persisted columnar, and every subsequent query
reads the (tiny) codebook plus the (code-compressed) corpus codes.
Every query here runs ``boltzmannclean_spark/ann.py``'s trainer and
ADC scorer — the same code as the train-in-query variants in
``operators/similarity.py`` — through its public ``build_ann_index`` /
``ann_search`` instantiated with the fixture constants:

- ``ensure_ann_index`` / ``sink_ann_index_build`` — build the PQ
  per-block codebooks, corpus PQ codes, IVF centroids and cell
  assignments and persist them as parquet under a per-corpus artifact
  directory. The build is idempotent (fingerprinted by corpus row
  count + index config + source files) and atomic (tmp dir + rename).
- ``similarity_ann_pq_adc_prebuilt`` — the QUERY leg only: ADC top-k
  over the stored codebook and code table. No training in the plan;
  this is the shape that serves at 100 TB (codes are 8x smaller than
  the raw float32 vectors at PQ_M=32 one-byte codes per 64-dim
  vector; the scan never touches a float vector).
- ``similarity_ann_ivfpq_prebuilt`` — the composed FAISS-style query:
  the stored IVF cell equi-join restricts the ADC scan to each query's
  cell before scoring.
- ``similarity_ann_delta_assign`` — incremental update: ``ann``'s PQ
  trainer on the initial corpus, its encoder over everything.

Artifact layout (all exact integers, so parquet round-trips losslessly
and results stay bit-identical to the DuckDB oracles, which re-derive
the same training):

    <dir>/codebook/       (b, cid, cvec array<long>)   PQ_M*PQ_K rows
    <dir>/codes/          (id, b, cid)                 corpus * PQ_M rows
    <dir>/cells/          (id, cell)                   corpus rows
    <dir>/ivf_centroids/  (cell, cvec array<long>)     cell-count rows
    <dir>/meta.json       {"n": corpus_rows, "conf": {...}, "src_fp": ...}

The artifact lands under the system temp dir keyed by the input path,
so repeated queries in a session (and across sessions) reuse it.

The oracles are composed from the fixture's PQ/IVF fragments in
``operators/similarity.py``, which are built by ``functions/lloyd.py``'s
SQL twins of the trainer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boltzmannclean_spark.ann import (
    _int_dist,
    _pq_assign,
    _pq_train,
    _quantize,
    ann_search,
    build_ann_index,
)
from boltzmannclean_spark.functions.lloyd import (
    ADC_SCORED_SQL,
    adc_rank_sql,
    pq_codes_sql,
    pq_rounds_sql,
    pq_sql,
)
from boltzmannclean_spark.functions.topk import topk_per_key
from boltzmannclean_spark.operators.similarity import (
    CENT_MOD,
    IVF_CELLS_SQL,
    IVF_FINAL,
    IVFPQ_ORACLE,
    KMEANS_ITERS,
    MICRO,
    N_QUERY,
    PQ_CODEBOOK_SQL,
    PQ_DSUB,
    PQ_FINAL,
    PQ_ITERS,
    PQ_K,
    PQ_M,
    PQ_ORACLE,
    PQ_SCAN_SQL,
    TOP_K,
    _EMB_DIMS,
    _ann_corpus,
)
from boltzmannclean_spark.plans.registry import register
from boltzmannclean_spark.sources.catalog import load_table

# The fixture instantiation of the PUBLIC parameterized builder
# (boltzmannclean_spark/ann.py) — dims/blocks/codes/iters/seeding all
# pinned so the DuckDB oracles re-derive the identical artifact. This
# dict IS the validation fingerprint (meta.json "conf"); version bumps
# force a rebuild on layout changes (v2 = ann.py layout: generic `id`
# column + persisted ivf_centroids/).
_INDEX_CONF = {
    "dims": _EMB_DIMS,
    "pq_m": PQ_M,
    "pq_dsub": PQ_DSUB,
    "pq_k": PQ_K,
    "pq_iters": PQ_ITERS,
    "n_cells": None,
    "kmeans_iters": KMEANS_ITERS,
    "micro": MICRO,
    "has_ivf": True,
    "residual": False,
    "version": 2,
}


def _index_dir(sf_dir: str) -> str:
    # Scoped per-user (uid in the name; BCS_ANN_INDEX_DIR overrides the
    # root) so parallel users/sessions on a shared host never serve each
    # other's artifacts from a predictable world-shared path.
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    root = os.environ.get("BCS_ANN_INDEX_DIR", tempfile.gettempdir())
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(root, f"bcs_ann_index_u{uid}_{key}")


def _source_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the embeddings source: (relpath, size,
    mtime_ns) of every file under it, hashed. Catches the
    regenerated-with-same-row-count drift case without a Spark job —
    a rewritten parquet always changes mtime/size."""
    base = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    entries = []
    if os.path.isdir(base):
        for dirpath, _dirs, files in os.walk(base):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, base), st.st_size, st.st_mtime_ns)
                )
    elif os.path.exists(base):
        st = os.stat(base)
        entries.append(("", st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(sorted(entries)).encode()).hexdigest()


# Artifact dirs already validated (corpus count + config fingerprint)
# in THIS process: repeat queries skip the validation count() job —
# the serve-path overhead should be reading the index, not re-proving
# it. A force build invalidates the memo entry.
_VALIDATED: set[str] = set()


def ensure_ann_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Build (or reuse) the persisted ANN index for ``sf_dir``'s
    embeddings table. Returns the artifact directory. Idempotent: a
    valid artifact (matching corpus count + config fingerprint) is
    reused; builds are atomic via tmp-dir + rename."""
    path = _index_dir(sf_dir)
    if not force and path in _VALIDATED and os.path.exists(
        os.path.join(path, "meta.json")
    ):
        return path
    src_fp = _source_fingerprint(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()

    def _valid(meta: dict) -> bool:
        return (
            meta.get("n") == n_corpus
            and meta.get("conf") == _INDEX_CONF
            and meta.get("src_fp") == src_fp
        )

    meta_file = os.path.join(path, "meta.json")
    if not force and os.path.exists(meta_file):
        try:
            with open(meta_file) as fh:
                meta = json.load(fh)
            if _valid(meta):
                _VALIDATED.add(path)
                return path
        except (OSError, json.JSONDecodeError):
            pass  # corrupt artifact: rebuild below

    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)

    # Delegate the actual training+persist to the PUBLIC parameterized
    # builder (ann.build_ann_index), instantiated with the fixture
    # constants and the fixture's deterministic seed predicates (PQ:
    # the first PQ_K ids; IVF: ids divisible by CENT_MOD) — the exact
    # integer math the DuckDB oracles re-derive. This wrapper owns only
    # the LIFECYCLE: fingerprint, idempotence, atomic tmp+rename.
    build_ann_index(
        emb,
        tmp,
        dims=_EMB_DIMS,
        id_col="vec_id",
        vec_col="embedding",
        pq_m=PQ_M,
        pq_k=PQ_K,
        pq_iters=PQ_ITERS,
        kmeans_iters=KMEANS_ITERS,
        micro=MICRO,
        pq_seed_pred=F.col("vec_id") < PQ_K,
        cell_seed_pred=F.col("vec_id") % CENT_MOD == 0,
        # Explicitly raw: IVF builds now DEFAULT to residual (measured
        # +8 recall points on the clustered ×10 corpus, SCALING.md
        # r14), but this fixture's DuckDB oracles re-derive the
        # raw-coordinate codebooks, and the fixture corpus is the
        # near-isotropic shape where residual is measured neutral.
        residual=False,
    )
    # Re-stamp meta with the lifecycle fields: the full conf (including
    # the layout version) is the validation fingerprint, and src_fp
    # catches regenerated-with-same-row-count source drift.
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"n": n_corpus, "conf": _INDEX_CONF, "src_fp": src_fp}, fh)
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # Concurrent build race: another process recreated `path` between
        # the rmtree and the rename. If the winner's artifact validates,
        # serve it and discard ours; otherwise the artifact is unusable —
        # surface that instead of guessing.
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            with open(meta_file) as fh:
                if _valid(json.load(fh)):
                    _VALIDATED.add(path)
                    return path
        except (OSError, json.JSONDecodeError):
            pass
        raise
    _VALIDATED.add(path)
    return path


ANN_BUILD_ORACLE = f"""
WITH {PQ_CODEBOOK_SQL}
SELECT CAST(b AS BIGINT) AS b, CAST(cid AS BIGINT) AS cid,
       CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(SUM(cx) AS BIGINT) AS cx_sum,
       CAST(MIN(cx) AS BIGINT) AS cx_min,
       CAST(MAX(cx) AS BIGINT) AS cx_max
FROM {PQ_FINAL}
GROUP BY b, cid
ORDER BY b, cid
"""


@register(
    "sink_ann_index_build",
    oracle=ANN_BUILD_ORACLE,
    tags=("sink", "ann", "index", "lifecycle"),
)
def sink_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The offline index-build job: (re)train PQ codebooks + codes + IVF
    cells, persist them, then read the PERSISTED codebook back and
    summarize it per (block, code) — count/sum/min/max of the centroid
    coordinates. The oracle re-derives the same codebook from scratch in
    DuckDB, so a hash match proves the stored artifact is bit-identical
    to the specification, i.e. the persistence layer loses nothing. The
    build itself is forced (this IS the build benchmark); queries reuse
    the artifact via ``ensure_ann_index``."""
    path = ensure_ann_index(spark, sf_dir, force=True)
    cb = spark.read.parquet(os.path.join(path, "codebook"))
    return (
        cb.select("b", "cid", F.posexplode("cvec").alias("d", "cx"))
        .groupBy(
            F.col("b").cast("long").alias("b"),
            F.col("cid").cast("long").alias("cid"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum("cx").alias("cx_sum"),
            F.min("cx").alias("cx_min"),
            F.max("cx").alias("cx_max"),
        )
        .orderBy("b", "cid")
    )


@register(
    "similarity_ann_pq_adc_prebuilt",
    oracle=PQ_ORACLE,
    tags=("similarity", "ann", "pq", "prebuilt"),
)
def similarity_ann_pq_adc_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN against the PERSISTED index — the production query
    shape: no training in the plan. Read the stored codebook (PQ_M*PQ_K
    rows, broadcast) and code table; compute each query's exact
    block-distance LUT from its raw sub-vectors x the codebook
    (queries x PQ_M x PQ_K rows, broadcast); score candidates by a
    code-table equi-join + sum; one-window top-k. Scan cost is linear in
    the CODE table (1 byte/block/vector at scale), and the only
    shuffle is the per-query partial-aggregated ADC sum. Results are
    bit-identical to the train-in-query variant (the artifact is exact
    integers), so the same oracle applies. Delegates to the PUBLIC
    ``ann.ann_search`` (this query is its fixture instantiation)."""
    path = ensure_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_search(
        spark,
        path,
        emb.where(F.col("vec_id") < N_QUERY),
        k=TOP_K,
        id_col="vec_id",
        vec_col="embedding",
        exclude_self=True,
    )


def _exact_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Recall ground truth: each query's exact integer-L2 top-TOP_K
    (query_id, neighbor_id), self excluded — one corpus pass against
    the broadcast query set, one-window top-k."""
    corpus = emb.select(
        "vec_id", _quantize(F.col("embedding"), MICRO).alias("qvec")
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        _quantize(F.col("embedding"), MICRO).alias("q_qvec"),
    )
    dists = (
        corpus.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _int_dist(F.col("qvec"), F.col("q_qvec")).alias("dist"),
        )
    )
    return topk_per_key(
        dists,
        keys=["query_id"],
        order=[F.col("dist"), F.col("neighbor_id")],
        k=TOP_K,
    ).select("query_id", "neighbor_id")


def _adc_exact_topk_sql(by: str = "") -> str:
    """CTEs ``adc_topk`` (``by``query_id, neighbor_id): each query's
    ADC top-TOP_K of ``scored`` per ``by`` group, and ``exact`` /
    ``exact_topk``: its exact integer-L2 top-TOP_K over ``pq``, self
    excluded — the two sides of a recall overlap."""
    return f"""adc_topk AS (
  SELECT {by}query_id, neighbor_id FROM (
    SELECT *, {adc_rank_sql(14, by + "query_id")}
    FROM scored
  ) t WHERE rk <= {TOP_K}
),
exact AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         CAST(SUM((q.qx - v.qx) * (q.qx - v.qx)) AS BIGINT) AS dist
  FROM pq q JOIN pq v ON q.b = v.b AND q.d = v.d AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY}
  GROUP BY q.vec_id, v.vec_id
),
exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dist, neighbor_id) AS rk
    FROM exact
  ) t WHERE rk <= {TOP_K}
)"""


RECALL_ORACLE = f"""
WITH {PQ_CODEBOOK_SQL},{PQ_SCAN_SQL},
{ADC_SCORED_SQL},
{_adc_exact_topk_sql()}
SELECT e.query_id,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / {TOP_K} AS recall_at_k
FROM exact_topk e
LEFT JOIN adc_topk a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


@register(
    "similarity_ann_recall_eval",
    oracle=RECALL_ORACLE,
    tags=("similarity", "ann", "recall", "eval"),
)
def similarity_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY measurement — recall@k of the persisted PQ-ADC index
    against the exact integer-L2 ground truth, per query. The piece a
    production vector store cannot ship without: compression (PQ) and
    pruning (IVF) trade recall for speed, and this query quantifies the
    trade on the served index so an nprobe/pq_k change is a measured
    decision, not a guess. Composes the PUBLIC lifecycle (ann_search on
    the ensure_ann_index artifact) with a brute-force exact leg:
    corpus ⋈ broadcast(query set) integer distances, top-k —
    at 100 TB the exact leg runs on a SAMPLED query set (as here:
    N_QUERY probes), which is exactly how recall is audited in
    production (the corpus-side scan stays one linear pass). Output:
    (query_id, n_overlap, recall_at_k), integer overlap so the oracle
    hash-matches bit-exactly; the DuckDB oracle re-derives codebooks,
    codes, ADC top-k AND the exact top-k from scratch."""
    path = ensure_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY)
    adc = ann_search(
        spark,
        path,
        queries,
        k=TOP_K,
        id_col="vec_id",
        vec_col="embedding",
        exclude_self=True,
    ).select("query_id", "neighbor_id")
    exact = _exact_topk(emb, queries)
    return (
        exact.join(
            adc.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(float(TOP_K))).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


_DELTA_MOD = 5  # vec_id % 5 == 0 is the "newly arrived" 20%


def _delta_assign_oracle() -> str:
    """Train the codebook on the INITIAL 80% only (vec_id % 5 <> 0),
    then assign ALL vectors — the incremental-index-update contract."""
    rounds, final = pq_rounds_sql(PQ_ITERS, PQ_DSUB, src="pq_init")
    return f"""
WITH {pq_sql(PQ_DSUB, MICRO)},
pq_init AS (SELECT * FROM pq WHERE vec_id % {_DELTA_MOD} <> 0),
pc0 AS (SELECT vec_id AS cid, b, d, qx AS cx
        FROM pq_init WHERE vec_id < {PQ_K}),{rounds},{pq_codes_sql(final, PQ_DSUB)}
SELECT CAST(b AS BIGINT) AS b, CAST(cid AS BIGINT) AS cid,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN vec_id % {_DELTA_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delta
FROM codes
GROUP BY b, cid
ORDER BY b, cid
"""


@register(
    "similarity_ann_delta_assign",
    oracle=_delta_assign_oracle(),
    tags=("similarity", "ann", "pq", "incremental", "lifecycle"),
)
def similarity_ann_delta_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index update — the third lifecycle leg (build →
    query → update): codebooks are trained once on the initial corpus
    (vec_id % 5 != 0 here) and FROZEN; newly arrived vectors (the
    remaining 20%) are encoded by assignment against the frozen
    codebook only — one broadcast-join argmin pass over the delta, no
    retraining, which is how a production vector store absorbs a daily
    append without touching the index structure. Output: per (block,
    code) populations split into initial vs delta, proving the frozen
    assignment covers the appended vectors. The oracle re-derives the
    subset-trained codebook and the full assignment."""
    n_all = _ann_corpus(spark, sf_dir)
    # Codebook trained on the INITIAL corpus only (seeds: its ids below
    # PQ_K); the delta is absorbed by the frozen-codebook encode alone.
    initial = n_all.where(F.col("id") % _DELTA_MOD != 0)
    cent = _pq_train(
        initial,
        pq_m=PQ_M,
        pq_iters=PQ_ITERS,
        pq_dsub=PQ_DSUB,
        seeds=initial.where(F.col("id") < PQ_K).select("id"),
    )
    codes = _pq_assign(n_all, cent, pq_m=PQ_M, pq_dsub=PQ_DSUB)
    return (
        codes.groupBy(
            F.col("b").cast("long").alias("b"),
            F.col("cid").cast("long").alias("cid"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(F.col("id") % _DELTA_MOD == 0, 1).otherwise(0)
            ).cast("long").alias("n_delta"),
        )
        .orderBy("b", "cid")
    )


@register(
    "similarity_ann_ivfpq_prebuilt",
    oracle=IVFPQ_ORACLE,
    tags=("similarity", "ann", "ivf", "pq", "prebuilt"),
)
def similarity_ann_ivfpq_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFxPQ against the PERSISTED index: the stored IVF cell table
    restricts the ADC scan to each query's cell (the multiplicative
    pruning that makes a billion-vector store answer), and scoring runs
    over stored 1-byte-per-block codes via the broadcast LUT. The plan
    contains zero training; both artifacts come off parquet. Same
    oracle as the train-in-query variant — bit-identical by exact
    integer construction. Delegates to the PUBLIC ``ann.ann_search``
    with ``nprobe=1``: the query's probed cell (argmin distance to the
    persisted centroids, ties to the smaller cell id) is by
    construction the same cell the build assigned it, since queries
    here are corpus members and build assignment uses the identical
    argmin over the identical final centroids."""
    path = ensure_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_search(
        spark,
        path,
        emb.where(F.col("vec_id") < N_QUERY),
        k=TOP_K,
        nprobe=1,
        id_col="vec_id",
        vec_col="embedding",
        exclude_self=True,
    )


# --- recall-vs-nprobe curve --------------------------------------------------

#: The probe settings the curve measures. nprobe=1 is the cheapest/
#: lowest-recall point; each
#: doubling roughly doubles scanned candidates. max() bounds the
#: per-query cell ranking the oracle materializes.
_PROBE_POINTS = (1, 2, 4)


def _recall_curve_oracle() -> str:
    """IVF k-means CTEs (integer micro-units, identical to the build),
    per-query cell RANKING (crk), PQ codebook/codes/LUT CTEs, then one
    pruned ADC top-k per probe point via a lateral probes join, each
    overlapped against the exact integer-L2 top-k."""
    probes_values = ", ".join(f"({p})" for p in _PROBE_POINTS)
    return f"""
WITH {IVF_CELLS_SQL},
qcdist AS (
  SELECT q.vec_id, c.cid,
         CAST(SUM((q.qx - c.cx) * (q.qx - c.cx)) AS BIGINT) AS dist
  FROM (SELECT * FROM q WHERE vec_id < {N_QUERY}) q
  JOIN {IVF_FINAL} c ON q.d = c.d GROUP BY q.vec_id, c.cid
),
qprobe AS (
  SELECT vec_id, cid, crk FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS crk
    FROM qcdist
  ) t WHERE crk <= {max(_PROBE_POINTS)}
),
{PQ_CODEBOOK_SQL},{PQ_SCAN_SQL},
probes AS (SELECT * FROM (VALUES {probes_values}) t(p)),
scored AS (
  SELECT pr.p, l.query_id, c.vec_id AS neighbor_id,
         CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
  FROM codes c
  JOIN lut l ON c.b = l.b AND c.cid = l.cid
  JOIN af an ON an.vec_id = c.vec_id
  JOIN qprobe qp ON qp.vec_id = l.query_id AND qp.cid = an.cid
  JOIN probes pr ON qp.crk <= pr.p
  WHERE c.vec_id <> l.query_id
  GROUP BY pr.p, l.query_id, c.vec_id
),
{_adc_exact_topk_sql("p, ")}
SELECT CAST(pr.p AS BIGINT) AS nprobe,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS recall_at_k
FROM exact_topk e
CROSS JOIN probes pr
LEFT JOIN adc_topk a
  ON a.p = pr.p AND a.query_id = e.query_id
 AND a.neighbor_id = e.neighbor_id
GROUP BY pr.p
ORDER BY nprobe
"""


@register(
    "similarity_ann_recall_vs_nprobe",
    oracle=_recall_curve_oracle(),
    tags=("similarity", "ann", "recall", "nprobe", "eval"),
)
def similarity_ann_recall_vs_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-nprobe CURVE over the persisted IVF×PQ index — the
    readout a vector store actually ships: for each probe setting the
    served index is queried through the PUBLIC ``ann_search(...,
    nprobe=p)`` path and its top-k overlapped against the exact
    integer-L2 ground truth, so an operator picking nprobe sees the
    measured recall/cost trade. The UNPRUNED full-scan ADC recall
    (``similarity_ann_recall_eval``) is the curve's ceiling — PQ
    quantization loss only; each nprobe point pays additional IVF
    pruning loss and climbs toward that ceiling as nprobe rises
    (sf0.01 fixture at the round-10 6/4-iteration codebooks:
    0.28 / 0.30 / 0.38 at nprobe 1/2/4 vs the 0.36 full-scan ceiling;
    the round-9 2/2-iteration codebooks measured 0.24 / 0.26 / 0.32
    vs 0.30 — every point moved at equal nprobe, which is the
    codebook-quality lever the curve exists to expose). One row per
    probe point:
    (nprobe, n_overlap, n_exact, recall_at_k).

    Scale: each curve point is the production serve plan (zero
    training, broadcast LUT + cell-pruned code scan); the exact leg is
    ONE brute-force pass over the corpus against the broadcast sampled
    query set — at 100 TB the curve is audited on exactly such a query
    sample while the corpus side stays a single linear scan shared by
    all probe points. The per-(nprobe, query) top-k (topk_per_key)
    limits each map task to k rows per key below the Exchange."""
    path = ensure_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERY)
    legs = [
        ann_search(
            spark,
            path,
            queries,
            k=TOP_K,
            nprobe=p,
            id_col="vec_id",
            vec_col="embedding",
            exclude_self=True,
        ).select(
            F.lit(int(p)).cast("long").alias("nprobe"),
            "query_id",
            "neighbor_id",
        )
        for p in _PROBE_POINTS
    ]
    adc = legs[0]
    for leg in legs[1:]:
        adc = adc.unionByName(leg)
    exact = _exact_topk(emb, queries)
    exact_x = exact.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(*[F.lit(int(p)).cast("long") for p in _PROBE_POINTS])
        ).alias("nprobe"),
    )
    return (
        exact_x.join(
            adc.withColumn("hit", F.lit(1)),
            ["nprobe", "query_id", "neighbor_id"],
            "left",
        )
        .groupBy("nprobe")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap"),
            F.count(F.lit(1)).cast("long").alias("n_exact"),
        )
        .select(
            "nprobe",
            "n_overlap",
            "n_exact",
            (
                F.col("n_overlap").cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )
