"""IVF×PQ approximate nearest neighbours — the engine's one
implementation, behind the public build/search API::

    import boltzmannclean_spark as bcs
    path = bcs.build_ann_index(vectors, "/data/idx", dims=768,
                               pq_m=96, pq_k=256, n_cells=4096)
    hits = bcs.ann_search(spark, path, queries, k=10, nprobe=8)

Every ANN query in the engine shares this module's trainer
(``_train``) and ADC top-k scorer (``_adc_topk``): ``build_ann_index``
is quantize → ``_train`` → write, ``ann_search`` is read → ``_adc_topk``,
and the registry's train-in-query operators
(``operators/similarity.py``) call the two in memory with the fixture
constants, so the DuckDB oracles check the same code the public API
runs. ``operators/ann_index.py`` wraps the persisted lifecycle
(fingerprinting, idempotence, atomic tmp-dir+rename) around
``build_ann_index``.

Design (FAISS IVF×PQ re-expressed as Spark dataflow, all exact-integer
micro-unit arithmetic so training is deterministic and parquet
round-trips losslessly):

- **train**: PQ per-block codebooks and the optional IVF coarse
  quantizer via the vectorized Lloyd trainer (``functions/lloyd.py``:
  one mapInArrow pass + codebook-sized partial sums per round, the
  codebook materialized on the driver). Raw IVF+PQ trains both as one
  block-group call, so each round's single corpus pass serves every
  group, and one assignment pass emits cells and codes; all jobs run
  on the caller's thread. Artifacts: ``codebook``
  (pq_m×pq_k rows), ``codes`` (corpus×pq_m rows — 1 byte/block/vector
  at scale), ``cells`` + ``ivf_centroids`` (IVF builds), persisted as
  parquet directories of those names plus ``meta.json``.
- **score**: each query's exact block-distance LUT (queries×pq_m×pq_k
  rows, broadcast) against the codebook, candidates scored by a
  code-table equi-join + sum (ADC), one-window top-k. With
  ``nprobe`` the cell table restricts the scan to each query's
  ``nprobe`` nearest coarse cells — the multiplicative pruning that
  makes a billion-vector store answer. The serve plan contains ZERO
  training.

At cluster scale ``codes`` would be written partitioned/bucketed by
cell so the probed scan prunes files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from boltzmannclean_spark.functions.lloyd import assign_blocks, train_blocks
from boltzmannclean_spark.functions.topk import topk_per_key
from boltzmannclean_spark.functions.vectors import (
    cosine,
    normed,
    rank_by_cosine,
)

DEFAULT_MICRO = 1_000_000

#: Residual ADC LUTs are |queries|·probed_cells·pq_m·pq_k rows; above
#: this bound (~1.5 GiB of 5-long rows, safely under Spark's 8 GiB
#: broadcast hard cap) the serve path drops the broadcast hint and
#: lets the LUT shuffle — measured necessary at 50 probes × 200 cells
#: × 32 × 256 on the clustered ×10 corpus (9.2 GiB broadcast refused).
RESIDUAL_LUT_BROADCAST_MAX_ROWS = 20_000_000

META_FILE = "meta.json"

#: Column names of the quantized corpus every trainer call reads.
_QV = dict(id_col="id", vec_col="qvec")


def _quantize(col, micro: int):
    """array<float> -> array<long> micro-unit quantization."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * micro, 0).cast("long")
    )


def _int_dist(a, b):
    """Exact squared-L2 between two array<long> vectors (HOF form — use
    for full-dim vectors where unrolling would bloat codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_dist_unrolled(a, b, dims: int):
    """Exact squared-L2 as a fixed sum of ``dims`` element terms — same
    integer result as ``_int_dist`` (adds commute) but plain
    whole-stage-codegen arithmetic; use for SMALL fixed dims in hot
    inner loops (the PQ sub-vector distance runs corpus×pq_k times per
    Lloyd round)."""
    terms = [
        (F.element_at(a, d) - F.element_at(b, d))
        * (F.element_at(a, d) - F.element_at(b, d))
        for d in range(1, dims + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _subvectors(q: DataFrame, pq_m: int, pq_dsub: int) -> DataFrame:
    """(id, qvec) -> one row per (id, block) with the block's
    ``pq_dsub``-dim integer sub-vector. Row-local explode — no
    shuffle."""
    subs = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.slice("qvec", b * pq_dsub + 1, pq_dsub).alias("qsub"),
            )
            for b in range(pq_m)
        ]
    )
    return q.select("id", F.explode(subs).alias("s")).select(
        "id", F.col("s.b").alias("b"), F.col("s.qsub").alias("qsub")
    )


def _smallest_ids(q: DataFrame, n: int) -> DataFrame:
    """Deterministic default seeding: the ``n`` smallest ids. Tiny
    sort-limit job (n rows collected into a broadcast side)."""
    return q.select("id").orderBy("id").limit(n)


def _pq_train(
    vecs: DataFrame,
    *,
    pq_m: int,
    pq_iters: int,
    pq_dsub: int,
    seeds: DataFrame,
) -> DataFrame:
    """Per-block codebooks via ``pq_iters`` Lloyd rounds in exact
    integer units over ``vecs = (id, qvec)``: a one-group call of the
    shared trainer (functions/lloyd.py). Returns (b, cid, cvec
    array<long>), codebook-sized, materialized on the driver (the
    MLlib-KMeans pattern). Seeded by the ``seeds`` id frame (cid = seed
    id) so training is deterministic; ties break to the smallest cid
    and the update is truncate-toward-zero division, which the DuckDB
    oracles re-derive bit for bit."""
    (cent,) = train_blocks(
        vecs, [(seeds, pq_m, pq_iters)], dims=pq_m * pq_dsub, **_QV
    )
    return cent


def _pq_assign(
    vecs: DataFrame, cent: DataFrame, *, pq_m: int, pq_dsub: int
) -> DataFrame:
    """Encode every vector against a (frozen) codebook: one vectorized
    assignment pass (exact int64 squared-L2, ties to the smallest cid).
    Returns (id, b, cid). This is also the incremental-update path —
    newly arrived vectors are absorbed by assignment alone, no
    retraining."""
    return assign_blocks(
        vecs, [(cent, pq_m)], dims=pq_m * pq_dsub, **_QV
    ).select("id", "b", "cid")


def _ivf_train(
    q: DataFrame, *, dims: int, kmeans_iters: int, seeds: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: ``kmeans_iters`` Lloyd rounds over the
    full vectors (a one-group call of the shared trainer with one
    full-width block). Returns (centroids (cell, cvec), assignments
    (id, cell), the assignment lazy). Empty cells drop out of the
    update deterministically; ties break to the smallest cell id."""
    (cent,) = train_blocks(q, [(seeds, 1, kmeans_iters)], dims=dims, **_QV)
    asg = assign_blocks(q, [(cent, 1)], dims=dims, **_QV)
    return (
        cent.select(F.col("cid").alias("cell"), "cvec"),
        asg.select("id", F.col("cid").alias("cell")),
    )


def _train(
    q: DataFrame,
    *,
    dims: int,
    pq_m: int,
    pq_iters: int,
    pq_seeds: DataFrame,
    cell_seeds: DataFrame | None = None,
    kmeans_iters: int = 2,
    residual: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame | None, DataFrame | None]:
    """Train an index over the quantized corpus ``q = (id, qvec)``.
    Returns ``(codebook, codes, ivf_centroids, cells)``: codebook
    (b, cid, cvec) and ivf_centroids (cell, cvec) driver-materialized,
    codes (id, b, cid) and cells (id, cell) lazy or checkpointed; the
    IVF pair only when ``cell_seeds`` asks for a coarse quantizer,
    otherwise None. ``residual`` trains and encodes PQ on
    ``x − centroid(cell(x))`` (requires ``cell_seeds``)."""
    pq_dsub = dims // pq_m
    if cell_seeds is not None and not residual:
        # Raw codebooks read the same q and share no state: one grouped
        # training call (each Lloyd round's single corpus pass serves
        # the IVF block and the pq_m PQ blocks) and one assignment pass
        # emitting cells and codes, checkpointed once and split.
        cent, codebook = train_blocks(
            q, [(cell_seeds, 1, kmeans_iters), (pq_seeds, pq_m, pq_iters)],
            dims=dims, **_QV,
        )
        asg = assign_blocks(
            q, [(cent, 1), (codebook, pq_m)], dims=dims, **_QV
        ).localCheckpoint()
        cells = asg.where(F.col("g") == 0)
        return (
            codebook,
            asg.where(F.col("g") == 1).select("id", "b", "cid"),
            cent.select(F.col("cid").alias("cell"), "cvec"),
            cells.select("id", F.col("cid").alias("cell")),
        )
    ivf_cent = cells = None
    if cell_seeds is not None:
        # Residual PQ depends on the IVF result, so it trains after it.
        # The encoded signal is x − centroid(cell(x)): one broadcast
        # join against the tiny centroid table + a row-local zip_with
        # difference, exact integers throughout. Checkpointed: cells
        # feed the residual frame and the index, and the residual frame
        # feeds pq_iters training passes plus the encode pass.
        ivf_cent, cells = _ivf_train(
            q, dims=dims, kmeans_iters=kmeans_iters, seeds=cell_seeds
        )
        cells = cells.localCheckpoint()
        q = (
            q.join(cells, "id")
            .join(F.broadcast(ivf_cent), "cell")
            .select(
                "id",
                F.zip_with("qvec", "cvec", lambda x, c: x - c).alias("qvec"),
            )
        ).localCheckpoint()
    codebook = _pq_train(
        q, pq_m=pq_m, pq_iters=pq_iters, pq_dsub=pq_dsub, seeds=pq_seeds
    )
    codes = _pq_assign(q, codebook, pq_m=pq_m, pq_dsub=pq_dsub)
    return codebook, codes, ivf_cent, cells


def _adc_topk(
    q: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    ivf_cent: DataFrame | None,
    cells: DataFrame | None,
    *,
    pq_m: int,
    pq_dsub: int,
    pq_k: int,
    k: int,
    nprobe: int | None = None,
    residual: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-``k`` of the quantized queries ``q = (id, qvec)`` over an
    index in ``_train``'s frames (``ivf_cent`` / ``cells`` are needed
    only with ``nprobe`` or ``residual``). Returns (query_id,
    neighbor_id, adc_dist, rk) ordered (query_id, rk); see
    ``ann_search`` for the plan shapes."""
    qcells = None
    if nprobe is not None:
        # Query -> nprobe nearest cells: the centroid table is tiny, so
        # fan out queries×n_cells and keep the nprobe best per query
        # (ties to the smaller cell id, matching the
        # build's assignment tie-break).
        qcells = topk_per_key(
            q.crossJoin(F.broadcast(ivf_cent)).select(
                F.col("id").alias("qc_query"),
                "cell",
                _int_dist(F.col("qvec"), F.col("cvec")).alias("cdist"),
            ),
            keys=["qc_query"],
            order=[F.col("cdist"), F.col("cell")],
            k=nprobe,
        ).select("qc_query", F.col("cell").alias("qcell"))
    self_filter = (
        (F.col("id") != F.col("query_id")) if exclude_self else F.lit(True)
    )
    if residual:
        # Per-(query, probed cell) residual LUT: block distance between
        # (qsub - csub) and each code. All frames feeding it are tiny
        # (queries, centroids, codebook) — the corpus only appears in
        # the final code-table equi-join.
        #
        # The LUT is |queries| × probed_cells × pq_m × pq_k rows — with
        # no nprobe every cell is probed, and at 50 probes × 200 cells
        # × 32 × 256 a forced broadcast hit Spark's 8 GiB hard cap
        # (9.2 GiB observed on the clustered ×10 corpus). So the hint
        # follows the computed row count: within budget → broadcast
        # (map-side, zero shuffle); beyond → no hint, and the
        # (b, cid, cell) equi-join shuffle-hash-partitions both sides —
        # the code scan is corpus-sized and shuffling anyway, so the
        # extra cost is the LUT's own exchange, not a new corpus pass.
        # Counting q/ivf_cent is two jobs over probe-/domain-sized
        # frames. q is pinned first so an expensive derived ``queries``
        # frame runs once, not once here and again in the serve job;
        # localCheckpoint (not cache) so the blocks live as long as the
        # returned DataFrame and the ContextCleaner reaps them after.
        q = q.localCheckpoint(eager=False)
        n_q = q.count()
        n_cells_probed = (
            nprobe if nprobe is not None else ivf_cent.count()
        )
        lut_rows = n_q * n_cells_probed * pq_m * pq_k
        lut_hint = (
            F.broadcast if lut_rows <= RESIDUAL_LUT_BROADCAST_MAX_ROWS
            else (lambda df: df)
        )
        probed = (
            qcells
            if qcells is not None
            else q.select(F.col("id").alias("qc_query")).crossJoin(
                F.broadcast(ivf_cent.select(F.col("cell").alias("qcell")))
            )
        )
        csub = _subvectors(
            ivf_cent.select(
                F.col("cell").alias("id"), F.col("cvec").alias("qvec")
            ),
            pq_m,
            pq_dsub,
        ).select(
            F.col("id").alias("ccell"),
            F.col("b").alias("cb"),
            F.col("qsub").alias("csub"),
        )
        rsub = (
            _subvectors(q, pq_m, pq_dsub)
            .join(probed, F.col("id") == F.col("qc_query"))
            .join(
                F.broadcast(csub),
                (F.col("b") == F.col("cb"))
                & (F.col("qcell") == F.col("ccell")),
            )
            .select(
                F.col("id").alias("query_id"),
                "qcell",
                "b",
                F.zip_with("qsub", "csub", lambda x, c: x - c).alias("rsub"),
            )
        )
        lut = rsub.join(F.broadcast(codebook), "b").select(
            "query_id",
            "qcell",
            F.col("b").alias("lb"),
            F.col("cid").alias("lcid"),
            _int_dist_unrolled(F.col("rsub"), F.col("cvec"), pq_dsub).alias(
                "pdist"
            ),
        )
        cand = codes.join(
            cells.withColumnRenamed("cell", "vcell"), "id"
        ).join(
            lut_hint(lut),
            (F.col("b") == F.col("lb"))
            & (F.col("cid") == F.col("lcid"))
            & (F.col("vcell") == F.col("qcell")),
        )
    else:
        qsub = _subvectors(q, pq_m, pq_dsub)
        lut = qsub.join(F.broadcast(codebook), "b").select(
            F.col("id").alias("query_id"),
            "b",
            "cid",
            _int_dist_unrolled(F.col("qsub"), F.col("cvec"), pq_dsub).alias(
                "pdist"
            ),
        )
        if qcells is None:
            cand = codes.join(F.broadcast(lut), ["b", "cid"])
        else:
            cand = (
                codes.join(cells.withColumnRenamed("cell", "vcell"), "id")
                .join(F.broadcast(lut), ["b", "cid"])
                .join(
                    F.broadcast(qcells),
                    (F.col("vcell") == F.col("qcell"))
                    & (F.col("query_id") == F.col("qc_query")),
                )
            )
    scored = (
        cand.where(self_filter)
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("pdist").alias("adc_dist"))
    )
    return topk_per_key(
        scored,
        keys=["query_id"],
        order=[F.col("adc_dist"), F.col("neighbor_id")],
        k=k,
    ).orderBy("query_id", "rk")


def build_ann_index(
    df: DataFrame,
    out_dir: str,
    *,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_m: int = 8,
    pq_k: int = 16,
    pq_iters: int = 2,
    n_cells: int | None = None,
    kmeans_iters: int = 2,
    micro: int = DEFAULT_MICRO,
    pq_seed_pred: Column | None = None,
    cell_seed_pred: Column | None = None,
    residual: bool | None = None,
) -> str:
    """Train and persist a PQ (optionally IVF×PQ) ANN index for
    ``df[(id_col, vec_col)]`` under ``out_dir``. Returns ``out_dir``.

    - ``dims`` — vector dimensionality; must be divisible by ``pq_m``
      (each block quantizes a ``dims/pq_m``-dim sub-vector).
    - ``pq_m`` / ``pq_k`` / ``pq_iters`` — blocks per vector, codes per
      block, Lloyd rounds. At scale a code is 1 byte/block (pq_k ≤
      256), so the stored corpus is ``pq_m`` bytes/vector — the 64×
      compression that lets the scan never touch a float vector.
    - ``n_cells`` — train an IVF coarse quantizer with this many cells
      and persist both assignments and centroids, enabling
      ``ann_search(..., nprobe=...)`` pruning.
    - ``pq_seed_pred`` / ``cell_seed_pred`` — optional boolean Columns
      over ``id_col`` selecting the Lloyd seed vectors (FAISS-style
      explicit init); default = the ``pq_k`` / ``n_cells`` smallest
      ids. Seeding is the ONLY stochasticity-shaped knob and it is
      fully deterministic either way.
    - ``residual`` — IVF-centered PQ (the FAISS IVFPQ norm): the PQ
      codebooks are trained on, and every vector encoded as,
      ``x − centroid(cell(x))`` instead of the raw coordinates.
      Requires an IVF build (``n_cells``). Residuals are differences
      of exact integers, so the whole exact-arithmetic discipline
      composes unchanged. **Default (None): resolves to the IVF flag
      — IVF builds are residual, pure-PQ builds raw** — chosen from
      the r14 measurement (SCALING.md r14, fixture 32×256 config):
      on a realistic Zipf-sized-cluster corpus residual wins every
      nprobe rung (+0.076 recall@10 at nprobe 32, ceiling 0.828 vs
      0.744) while on the near-isotropic fixture it is neutral
      (0.812 vs 0.814) — the documented FAISS expectation, now
      measured here at the served config. Pass ``residual=False``
      explicitly to pin raw codebooks (the fixture lifecycle does:
      its DuckDB oracles re-derive raw).

    Everything is exact integer micro-unit arithmetic (``micro``), so
    rebuilds are bit-identical and parquet round-trips losslessly —
    the registry's ``sink_ann_index_build`` proves the persisted
    artifact matches an independent DuckDB re-derivation. The write is
    plain (no tmp+rename): idempotence/atomicity belongs to the
    lifecycle wrapper (``ensure_ann_index``) or the caller's
    orchestrator."""
    if dims % pq_m:
        raise ValueError(f"dims={dims} not divisible by pq_m={pq_m}")
    has_ivf = n_cells is not None or cell_seed_pred is not None
    if residual is None:
        residual = has_ivf  # measured default — docstring above
    if residual and not has_ivf:
        raise ValueError(
            "residual=True requires an IVF build (pass n_cells or "
            "cell_seed_pred): residual PQ encodes x - centroid(cell(x))"
        )
    pq_dsub = dims // pq_m
    # Checkpoint the quantized corpus once: it feeds every training and
    # encode pass (IVF rounds + PQ rounds + assignment). The corpus
    # count materializes it, so counting costs no extra pass.
    q = df.select(
        F.col(id_col).alias("id"), _quantize(F.col(vec_col), micro).alias("qvec")
    ).localCheckpoint(eager=False)
    n_corpus = q.count()

    def _seeds(pred: Column | None, n: int | None) -> DataFrame:
        # Seed predicates evaluate against the CALLER'S frame (their own
        # column names); the default is the n smallest ids.
        if pred is not None:
            return df.where(pred).select(F.col(id_col).alias("id"))
        return _smallest_ids(q, n)

    codebook, codes, ivf_cent, cells = _train(
        q,
        dims=dims,
        pq_m=pq_m,
        pq_iters=pq_iters,
        pq_seeds=_seeds(pq_seed_pred, pq_k),
        cell_seeds=_seeds(cell_seed_pred, n_cells) if has_ivf else None,
        kmeans_iters=kmeans_iters,
        residual=residual,
    )
    if has_ivf:
        cells.coalesce(4).write.mode("overwrite").parquet(
            os.path.join(out_dir, "cells")
        )
        ivf_cent.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, "ivf_centroids")
        )
    codebook.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebook")
    )
    # At cluster scale: .write.partitionBy(cell) / bucketBy so the
    # probed ADC scan prunes files; at test SF a handful is right.
    codes.coalesce(4).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codes")
    )
    conf = {
        "dims": dims,
        "pq_m": pq_m,
        "pq_dsub": pq_dsub,
        "pq_k": pq_k,
        "pq_iters": pq_iters,
        "n_cells": n_cells,
        "kmeans_iters": kmeans_iters,
        "micro": micro,
        "has_ivf": has_ivf,
        "residual": residual,
    }
    with open(os.path.join(out_dir, META_FILE), "w") as fh:
        json.dump({"n": n_corpus, "conf": conf}, fh)
    return out_dir


def read_index_conf(index_dir: str) -> dict:
    """The persisted build configuration (meta.json ``conf`` block)."""
    with open(os.path.join(index_dir, META_FILE)) as fh:
        return json.load(fh)["conf"]


def ann_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-``k`` against a persisted index built by
    ``build_ann_index``. Returns (query_id, neighbor_id, adc_dist, rk)
    with rk 1..k per query, ordered (query_id, rk).

    The plan contains ZERO training: the stored codebook (pq_m×pq_k
    rows) broadcasts; each query's exact block-distance LUT
    (queries×pq_m×pq_k rows) is computed from its raw sub-vectors ×
    the codebook and broadcast; candidates are scored by a code-table
    equi-join + map-side partial-aggregated sum; the final top-k is
    one window whose partial group limit runs below the Exchange, so
    each map task ships at most k rows per query (k ≤ 1000).

    ``nprobe`` (requires an IVF build): assign each query to its
    ``nprobe`` nearest coarse cells via the stored centroids and
    restrict the code scan to those cells — scan cost drops by
    ~n_cells/nprobe. ``exclude_self`` drops neighbor_id == query_id,
    the right default when queries are corpus members.

    A ``residual=True`` index is served transparently (the flag rides
    meta.json): the ADC LUT becomes per-(query, cell) — block
    distances between the query's RESIDUAL against each probed cell's
    centroid and the codebook. The LUT is queries × probed cells ×
    pq_m × pq_k rows: broadcast while that count fits
    ``RESIDUAL_LUT_BROADCAST_MAX_ROWS``, shuffled through the
    (b, cid, cell) equi-join beyond it (the no-``nprobe`` full-probe
    case crossed Spark's 8 GiB broadcast cap at 50×200×32×256 —
    measured r14; still pass ``nprobe`` on residual indexes at scale,
    the pruning is the point)."""
    conf = read_index_conf(index_dir)
    residual = conf.get("residual", False)
    if nprobe is not None and not conf.get("has_ivf"):
        raise ValueError(
            f"index at {index_dir} was built without n_cells; "
            "nprobe requires an IVF build"
        )
    codebook = spark.read.parquet(os.path.join(index_dir, "codebook"))
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    ivf_cent = cells = None
    if nprobe is not None or residual:
        ivf_cent = spark.read.parquet(
            os.path.join(index_dir, "ivf_centroids")
        )
        cells = spark.read.parquet(os.path.join(index_dir, "cells"))
    q = queries.select(
        F.col(id_col).alias("id"),
        _quantize(F.col(vec_col), conf["micro"]).alias("qvec"),
    )
    return _adc_topk(
        q,
        codebook,
        codes,
        ivf_cent,
        cells,
        pq_m=conf["pq_m"],
        pq_dsub=conf["pq_dsub"],
        pq_k=conf["pq_k"],
        k=k,
        nprobe=nprobe,
        residual=residual,
        exclude_self=exclude_self,
    )


def tune_nprobe(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    *,
    k: int = 10,
    target_recall: float = 0.9,
    ladder: tuple[int, ...] = (1, 2, 4, 8),
    n_queries: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, DataFrame]:
    """Pick ``nprobe`` for a persisted IVF index from its MEASURED
    recall curve (r11 verdict #7) instead of folklore: run
    ``ann_search`` at each ladder rung over an ``n_queries``-vector
    probe sample, score recall@``k`` against the exact cosine top-k
    (brute force priced per QUERY — ``n_queries × corpus`` dot
    products, never corpus²), and return ``(chosen, curve)`` where
    ``chosen`` is the smallest rung whose recall clears
    ``target_recall`` (falling back to the ladder max, so the caller
    always gets a valid knob) and ``curve`` is the full
    (nprobe, hits, possible, recall, chosen) DataFrame for logging.

    The decision is integer-exact (hits·10ⁿ ≥ target·possible with
    target taken at 4 decimal places), bit-reproducible like every
    other gate in this engine. Rungs beyond the index's cell count
    are skipped (probing every cell already equals the full scan).
    The query sample is the ``n_queries`` smallest ids —
    deterministic; pass a pre-filtered corpus for a different
    sampling policy. Plan-wise each rung is one zero-training
    ``ann_search``; the ground truth is computed ONCE and broadcast
    into each rung's hit join.

    Registry twin: ``similarity_ann_nprobe_autotune`` pins the same
    sweep semantics on the SQL-expressible seed-centroid IVF so the
    DuckDB oracle replicates every rung end-to-end.
    """
    conf = read_index_conf(index_dir)
    if not conf.get("has_ivf"):
        raise ValueError(
            f"index at {index_dir} was built without n_cells; "
            "nprobe tuning requires an IVF build"
        )
    n_cells = conf.get("n_cells")
    rungs = [p for p in ladder if n_cells is None or p <= n_cells]
    if not rungs:
        rungs = [1]
    target_pm = int(round(target_recall * 10_000))

    queries = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_queries)
    )
    qn = normed(queries, [F.col(id_col).alias("qid")], F.col(vec_col),
                e="qe", nrm="qnrm")
    cn = normed(corpus, [F.col(id_col).alias("cid")], F.col(vec_col),
                e="ce", nrm="cnrm")
    cos = cosine("qe", "ce", "qnrm", "cnrm", conf["dims"])
    truth = rank_by_cosine(
        qn.crossJoin(cn)
        .where(F.col("cid") != F.col("qid"))
        .select(F.col("qid").alias("query_id"),
                F.col("cid").alias("neighbor_id"),
                cos.alias("cosine")),
        k,
        ordered=False,
    ).select("query_id", "neighbor_id").localCheckpoint()
    possible = truth.count()
    if possible == 0:
        # Empty ground truth (empty or single-vector corpus): every
        # rung would vacuously satisfy hits·10⁴ ≥ target·0 and rung[0]
        # would be reported as "meeting" a target it never measured.
        # Fall back to the ladder max explicitly — the conservative
        # knob — with recall 0.0 and no chosen flag set by recall.
        curve = spark.createDataFrame(
            [(int(p), 0, 0, 0.0, 1 if p == rungs[-1] else 0) for p in rungs],
            "nprobe long, hits long, possible long, recall double,"
            " chosen long",
        )
        return rungs[-1], curve

    rows = []
    for p in rungs:
        got = ann_search(
            spark,
            index_dir,
            queries,
            k=k,
            nprobe=p,
            id_col=id_col,
            vec_col=vec_col,
        ).select("query_id", "neighbor_id")
        hits = got.join(F.broadcast(truth), ["query_id", "neighbor_id"]).count()
        rows.append((p, hits))

    chosen = next(
        (p for p, h in rows if h * 10_000 >= target_pm * possible),
        rungs[-1],
    )
    curve = spark.createDataFrame(
        [
            (
                int(p),
                int(h),
                int(possible),
                float(h) / possible if possible else 0.0,
                1 if p == chosen else 0,
            )
            for p, h in rows
        ],
        "nprobe long, hits long, possible long, recall double, chosen long",
    )
    return chosen, curve
