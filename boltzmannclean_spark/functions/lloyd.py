"""Vectorized Lloyd (k-means) training/assignment for the ANN family.

Round-15 optimization (guide §4.2 "do the heavy lifting in native code
inside the UDF"): the round-11 JVM formulation fanned the corpus out
k× through a broadcast join and reduced it back with a grouped
``min_by(cid, struct(dist, cid))`` — the fan-out join itself measured
cheap (1.4 s for 16.7M rows at sf0.1) but the min_by/struct aggregation
runs on the ObjectHashAggregate path and cost 4-7 s PER Lloyd round.
Here the assignment is one ``mapInArrow`` pass: Arrow batches of
vectors hit a NumPy argmin against the broadcast codebook (C speed,
zero fan-out rows), and each task emits only codebook-sized partial
sums — the same map-side-combine shape as before, now with the inner
loop in native code. This is the standard distributed-k-means layout
(Spark MLlib's KMeans does exactly this: per-partition partial sums,
driver-side centroid update, re-broadcast).

Exactness contract (the reason every caller's DuckDB oracle still
hash-matches):

- All arithmetic is int64, same as the JVM/SQL formulations. Integer
  adds commute, so partial-sum order (partitioning, Arrow batch
  boundaries) cannot change any sum.
- Assignment ties break to the SMALLEST cid: centroid rows are ordered
  by cid ascending and ``np.argmin`` returns the first minimum — the
  same total order as ``min_by(cid, struct(dist, cid))`` and DuckDB's
  ``arg_min(cid, dist * 2^40 + cid)``.
- The centroid update uses truncate-toward-zero integer division
  (``_sdiv_np``), matching the SQL helpers ``sdiv_spark`` /
  ``sdiv_duck`` in ``functions/exact.py``.

Driver-side materialization is CODEBOOK-sized only (seed vectors at
init, n_blocks × k × dims longs per round) — bounded by the model, not
the corpus; the corpus itself only ever streams through the Arrow pass.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["train_blocks", "assign_blocks"]


def _sdiv_np(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """Truncate-toward-zero integer division, elementwise — the exact
    semantics of ``functions/exact.py``'s ``sdiv_spark`` / ``sdiv_duck``
    SQL helpers (Spark DIV truncates; DuckDB // floors; they differ on
    negatives)."""
    num = np.asarray(num, dtype=np.int64)
    den = np.asarray(den, dtype=np.int64)
    q = np.empty_like(num)
    neg = num < 0
    pos = ~neg
    q[pos] = num[pos] // np.broadcast_to(den, num.shape)[pos]
    q[neg] = -((-num[neg]) // np.broadcast_to(den, num.shape)[neg])
    return q


def _list_to_matrix(col: pa.Array, dims: int) -> np.ndarray:
    """array<long> Arrow column -> (n, dims) int64 matrix (zero-copy on
    the flat values buffer when possible)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    n = len(col)
    if flat.size != n * dims:
        raise ValueError(
            f"lloyd: expected fixed {dims}-dim vectors, got "
            f"{flat.size} values over {n} rows"
        )
    return flat.reshape(n, dims)


class _Codebook:
    """Per-block centroid arrays, rows sorted by cid ascending (the
    tie-break order). Picklable for sc.broadcast."""

    __slots__ = ("cids", "mats", "n_blocks", "dsub")

    def __init__(self, n_blocks: int, dsub: int):
        self.n_blocks = n_blocks
        self.dsub = dsub
        self.cids: dict[int, np.ndarray] = {}
        self.mats: dict[int, np.ndarray] = {}

    def set_block(self, b: int, cids: np.ndarray, mat: np.ndarray) -> None:
        order = np.argsort(cids, kind="stable")
        self.cids[b] = cids[order].astype(np.int64, copy=False)
        self.mats[b] = mat[order].astype(np.int64, copy=False)


#: Upper bound on the (rows × centroids) distance temp inside one
#: assignment chunk (int64 cells; 16M ≈ 128 MB). The centroid count is
#: corpus-dependent for IVF (CENT_MOD), so without a cap the per-batch
#: temp would grow with corpus size (r15 ADVICE).
_DIST_CELLS_BUDGET = 16_000_000


def _assign_block(X: np.ndarray, cb: _Codebook, b: int) -> np.ndarray:
    """Row indices into cb.cids[b] of each row's nearest centroid
    (exact int64 squared-L2; ties to the first = smallest cid).

    Distances use the |x|² + |c|² − 2·x·c expansion — exact in int64,
    so the argmin (and its first-minimum = smallest-cid tie-break) is
    bit-identical to the direct (x−c)² sum — and rows are chunked so
    the largest temp is the (chunk, k) distance matrix, never an
    (n, k, dsub) cube (the r15 shape OOMed once centroid count scaled
    with the corpus)."""
    C = cb.mats[b]
    k = C.shape[0]
    csq = np.einsum("ij,ij->i", C, C)  # (k,) int64, exact
    out = np.empty(X.shape[0], dtype=np.int64)
    step = max(1, _DIST_CELLS_BUDGET // max(1, k))
    for lo in range(0, X.shape[0], step):
        Xc = X[lo : lo + step]
        xsq = np.einsum("ij,ij->i", Xc, Xc)
        D = Xc @ C.T
        np.multiply(D, -2, out=D)
        D += xsq[:, None]
        D += csq[None, :]
        out[lo : lo + step] = D.argmin(axis=1)
    return out


def _seed_codebook(
    vecs: DataFrame,
    seeds: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dims: int,
    n_blocks: int,
) -> _Codebook:
    dsub = dims // n_blocks
    rows = (
        vecs.join(F.broadcast(seeds.select(id_col)), id_col)
        .select(id_col, vec_col)
        .collect()
    )
    if not rows:
        return None  # empty corpus/seed set -> empty codebook
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.int64)
    cb = _Codebook(n_blocks, dsub)
    for b in range(n_blocks):
        cb.set_block(b, ids, mat[:, b * dsub : (b + 1) * dsub])
    return cb


def _partials_pass(
    vecs: DataFrame, cb_bc, *, vec_col: str, dims: int, n_blocks: int
) -> DataFrame:
    """One corpus pass: per-task partial (count, per-dim sum) rows per
    (block, centroid) — codebook-sized output per task, combined by a
    tiny JVM aggregation."""
    dsub = dims // n_blocks

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cb: _Codebook = cb_bc.value
        counts = {
            b: np.zeros(len(cb.cids[b]), dtype=np.int64)
            for b in range(n_blocks)
        }
        sums = {
            b: np.zeros((len(cb.cids[b]), dsub), dtype=np.int64)
            for b in range(n_blocks)
        }
        for batch in batches:
            X = _list_to_matrix(batch.column(0), dims)
            for b in range(n_blocks):
                Xb = X[:, b * dsub : (b + 1) * dsub]
                idx = _assign_block(Xb, cb, b)
                np.add.at(counts[b], idx, 1)
                np.add.at(sums[b], idx, Xb)
        bs, cids, ds, ms, ss = [], [], [], [], []
        for b in range(n_blocks):
            hit = np.nonzero(counts[b])[0]
            for i in hit:
                bs.extend([b] * dsub)
                cids.extend([int(cb.cids[b][i])] * dsub)
                ds.extend(range(dsub))
                ms.extend([int(counts[b][i])] * dsub)
                ss.extend(int(x) for x in sums[b][i])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(bs, pa.int32()),
                pa.array(cids, pa.int64()),
                pa.array(ds, pa.int32()),
                pa.array(ms, pa.int64()),
                pa.array(ss, pa.int64()),
            ],
            ["b", "cid", "d", "m", "s"],
        )

    return vecs.select(F.col(vec_col)).mapInArrow(
        fn, "b int, cid long, d int, m long, s long"
    )


def train_blocks(
    vecs: DataFrame,
    seeds: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dims: int,
    n_blocks: int,
    iters: int,
) -> DataFrame:
    """``iters`` Lloyd rounds over ``vecs[(id_col, vec_col)]`` with the
    vector split into ``n_blocks`` contiguous sub-vectors trained
    independently (n_blocks=1 == plain k-means). ``seeds`` is the frame
    of seed ids (centroid cid = seed id). Returns the final codebook as
    a small DataFrame (b int, cid long, cvec array<long>) materialized
    on the driver — codebook-sized, the MLlib-KMeans pattern.

    Per round: ONE corpus pass (mapInArrow + NumPy argmin), one
    codebook-sized aggregation, one driver-side exact-integer update.
    Empty centroids drop out of the update deterministically, matching
    the SQL formulation."""
    spark = vecs.sparkSession
    sc = spark.sparkContext
    dsub = dims // n_blocks
    cb = _seed_codebook(
        vecs, seeds, id_col=id_col, vec_col=vec_col, dims=dims,
        n_blocks=n_blocks,
    )
    if cb is None:
        # Empty corpus/seed set: an empty codebook, matching the former
        # dataflow (whose lazy frames simply carried zero rows through).
        return spark.createDataFrame([], "b int, cid long, cvec array<long>")
    for _ in range(iters):
        bc = sc.broadcast(cb)
        rows = (
            _partials_pass(
                vecs, bc, vec_col=vec_col, dims=dims, n_blocks=n_blocks
            )
            .groupBy("b", "cid", "d")
            .agg(F.sum("m").alias("m"), F.sum("s").alias("s"))
            .collect()
        )
        bc.destroy()
        acc: dict[tuple[int, int], tuple[np.int64, np.ndarray]] = {}
        sums: dict[tuple[int, int], np.ndarray] = {}
        cnts: dict[tuple[int, int], int] = {}
        for r in rows:
            key = (r["b"], r["cid"])
            s = sums.setdefault(key, np.zeros(dsub, dtype=np.int64))
            s[r["d"]] = r["s"]
            cnts[key] = r["m"]
        cb_next = _Codebook(n_blocks, dsub)
        per_block: dict[int, tuple[list, list]] = {
            b: ([], []) for b in range(n_blocks)
        }
        for (b, cid), s in sums.items():
            m = cnts[(b, cid)]
            per_block[b][0].append(cid)
            per_block[b][1].append(
                _sdiv_np(s, np.full(dsub, m, dtype=np.int64))
            )
        for b in range(n_blocks):
            ids, mats = per_block[b]
            if not ids:
                raise ValueError(f"lloyd: block {b} lost every centroid")
            cb_next.set_block(
                b, np.array(ids, dtype=np.int64), np.stack(mats)
            )
        cb = cb_next
    out_rows = [
        (int(b), int(cid), [int(x) for x in cvec])
        for b in range(n_blocks)
        for cid, cvec in zip(cb.cids[b], cb.mats[b])
    ]
    return spark.createDataFrame(
        out_rows, "b int, cid long, cvec array<long>"
    )


def assign_blocks(
    vecs: DataFrame,
    cent: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dims: int,
    n_blocks: int,
) -> DataFrame:
    """Encode every vector against a frozen codebook: one mapInArrow
    pass emitting (id, b, cid) — the nearest centroid per block, exact
    int64 squared-L2, ties to the smallest cid. Output schema keeps the
    caller's id column name/type."""
    spark = vecs.sparkSession
    dsub = dims // n_blocks
    rows = cent.select("b", "cid", "cvec").collect()
    cb = _Codebook(n_blocks, dsub)
    by_b: dict[int, tuple[list, list]] = {b: ([], []) for b in range(n_blocks)}
    for r in rows:
        by_b[r["b"]][0].append(r["cid"])
        by_b[r["b"]][1].append(r["cvec"])
    if not rows:
        # Empty codebook (empty-corpus build): empty assignment, the
        # former dataflow's behavior.
        id_type = vecs.select(id_col).schema[0].dataType.simpleString()
        return spark.createDataFrame(
            [], f"{id_col} {id_type}, b int, cid long"
        )
    for b in range(n_blocks):
        ids, mats = by_b[b]
        if not ids:
            raise ValueError(f"lloyd: codebook has no centroids for block {b}")
        cb.set_block(b, np.array(ids, dtype=np.int64), np.array(mats, dtype=np.int64))
    bc = spark.sparkContext.broadcast(cb)
    id_type = vecs.select(id_col).schema[0].dataType.simpleString()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cbv: _Codebook = bc.value
        for batch in batches:
            ids = batch.column(0)
            X = _list_to_matrix(batch.column(1), dims)
            n = len(ids)
            out_cid = np.empty((n, n_blocks), dtype=np.int64)
            for b in range(n_blocks):
                idx = _assign_block(
                    X[:, b * dsub : (b + 1) * dsub], cbv, b
                )
                out_cid[:, b] = cbv.cids[b][idx]
            id_rep = pa.concat_arrays(
                [ids] * n_blocks
            ) if n_blocks > 1 else ids
            # column-major repeat: block b's ids then block b+1's — order
            # is irrelevant downstream (joins/aggregations), but keep it
            # deterministic anyway.
            bs = np.repeat(np.arange(n_blocks, dtype=np.int32), n)
            cids = out_cid.T.reshape(-1)
            yield pa.RecordBatch.from_arrays(
                [id_rep, pa.array(bs, pa.int32()), pa.array(cids, pa.int64())],
                [id_col, "b", "cid"],
            )

    return vecs.select(id_col, vec_col).mapInArrow(
        fn, f"{id_col} {id_type}, b int, cid long"
    )
