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

Block groups: ``train_blocks`` trains a list of groups over the same
corpus — each its own seeds, block count and round count (the raw
IVF+PQ index is one full-width block beside ``pq_m`` sub-blocks). One
seed collect serves every group, and each round's single corpus pass
serves every group that still has rounds left; blocks never interact,
so a group's codebook is bit-identical to training it alone.
``assign_blocks`` likewise encodes every group in one pass.

Driver-side materialization is CODEBOOK-sized only (seed vectors at
init, per-block k × width longs per round) — bounded by the model, not
the corpus; the corpus itself only ever streams through the Arrow pass.

DuckDB twins: the oracles re-derive the same rounds in SQL. The CTE
builders at the end of this module (``ivf_cells_sql``,
``pq_codebook_sql``, ``pq_codes_sql``, ``pq_lut_sql`` and the ADC
tail) are that derivation, written once for every oracle.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boltzmannclean_spark.functions.exact import sdiv_duck
from boltzmannclean_spark.functions.vectors import list_matrix, topk_sql

__all__ = [
    "train_blocks",
    "assign_blocks",
    "quantized_sql",
    "ivf_cells_sql",
    "pq_sql",
    "pq_rounds_sql",
    "pq_codebook_sql",
    "pq_codes_sql",
    "pq_lut_sql",
    "ADC_SCORED_SQL",
    "adc_rank_sql",
    "adc_topk_sql",
]


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


class _Codebook:
    """Centroid arrays per global block, rows sorted by cid ascending
    (the tie-break order). Picklable for sc.broadcast."""

    __slots__ = ("cids", "mats")

    def __init__(self):
        self.cids: dict[int, np.ndarray] = {}
        self.mats: dict[int, np.ndarray] = {}

    def set_block(self, b: int, cids: np.ndarray, mat: np.ndarray) -> None:
        order = np.argsort(cids, kind="stable")
        self.cids[b] = cids[order].astype(np.int64, copy=False)
        self.mats[b] = mat[order].astype(np.int64, copy=False)


def _layout(dims: int, n_blocks: list[int]) -> list[tuple[int, int, int, int]]:
    """Global block index -> (group, local block, lo, hi): group g's
    ``n_blocks[g]`` equal column slices, numbered after every earlier
    group's blocks."""
    out = []
    for g, n in enumerate(n_blocks):
        w = dims // n
        out += [(g, b, b * w, (b + 1) * w) for b in range(n)]
    return out


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
    seeds: list[DataFrame],
    layout: list[tuple[int, int, int, int]],
    *,
    id_col: str,
    vec_col: str,
) -> _Codebook:
    """One collect of the seed vectors of every group (centroid cid =
    seed id), tagged by group; a group with no seed rows gets no
    blocks."""
    tagged = reduce(
        DataFrame.union,
        [s.select(id_col, F.lit(g).alias("g")) for g, s in enumerate(seeds)],
    )
    rows = (
        vecs.join(F.broadcast(tagged), id_col)
        .select("g", id_col, vec_col)
        .collect()
    )
    cb = _Codebook()
    gs = np.array([r[0] for r in rows], dtype=np.int64)
    ids = np.array([r[1] for r in rows], dtype=np.int64)
    mat = np.array([r[2] for r in rows], dtype=np.int64)
    for gb, (g, _, lo, hi) in enumerate(layout):
        sel = gs == g
        if sel.any():
            cb.set_block(gb, ids[sel], mat[sel, lo:hi])
    return cb


def _partials_pass(
    vecs: DataFrame,
    cb_bc,
    *,
    vec_col: str,
    dims: int,
    blocks: list[tuple[int, int, int]],
) -> DataFrame:
    """One corpus pass over the ``blocks`` (global block, lo, hi):
    per-task partial (count, per-dim sum) rows per (block, centroid) —
    codebook-sized output per task, combined by a tiny JVM
    aggregation."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cb: _Codebook = cb_bc.value
        counts = {
            b: np.zeros(len(cb.cids[b]), dtype=np.int64) for b, _, _ in blocks
        }
        sums = {
            b: np.zeros((len(cb.cids[b]), hi - lo), dtype=np.int64)
            for b, lo, hi in blocks
        }
        for batch in batches:
            X = list_matrix(batch.column(0), dims)
            for b, lo, hi in blocks:
                Xb = X[:, lo:hi]
                idx = _assign_block(Xb, cb, b)
                np.add.at(counts[b], idx, 1)
                np.add.at(sums[b], idx, Xb)
        # Rows per hit centroid, one per dim: (b, cid, d, count, sum).
        cols: list[list[np.ndarray]] = [[], [], [], [], []]
        for b, lo, hi in blocks:
            hit = np.nonzero(counts[b])[0]
            w = hi - lo
            cols[0].append(np.full(hit.size * w, b, dtype=np.int32))
            cols[1].append(np.repeat(cb.cids[b][hit], w))
            cols[2].append(np.tile(np.arange(w, dtype=np.int32), hit.size))
            cols[3].append(np.repeat(counts[b][hit], w))
            cols[4].append(sums[b][hit].reshape(-1))
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(c)) for c in cols],
            ["b", "cid", "d", "m", "s"],
        )

    return vecs.select(F.col(vec_col)).mapInArrow(
        fn, "b int, cid long, d int, m long, s long"
    )


def _update(
    cb: _Codebook, rows: list, blocks: list[tuple[int, int, int]]
) -> None:
    """Replace each of ``blocks``' centroids by the truncated mean of
    its members; centroids with no members drop out."""
    arr = np.array(rows, dtype=np.int64).reshape(-1, 5)  # b, cid, d, m, s
    for b, lo, hi in blocks:
        sel = arr[arr[:, 0] == b]
        if not len(sel):
            raise ValueError(f"lloyd: block {b} lost every centroid")
        sel = sel[np.lexsort((sel[:, 2], sel[:, 1]))]
        w = hi - lo
        # Every hit centroid has exactly one row per dim, so the sorted
        # rows reshape to (centroids, w).
        m = sel[::w, 3]
        cb.set_block(
            b, sel[::w, 1], _sdiv_np(sel[:, 4].reshape(-1, w), m[:, None])
        )


def _codebook_frame(
    spark, blocks: list[tuple[int, np.ndarray, np.ndarray]]
) -> DataFrame:
    """One group's codebook as (b, cid, cvec) rows from its blocks'
    (b, cids, centroid matrix). Built from an Arrow table, the frame is
    a local relation: collecting, broadcasting or writing it needs no
    Python worker, and a collect launches no job."""
    table = pa.table(
        {
            "b": pa.array([b for b, c, _ in blocks for _ in c], pa.int32()),
            "cid": pa.array(
                [c for _, cids, _ in blocks for c in cids.tolist()], pa.int64()
            ),
            "cvec": pa.array(
                [v for _, _, m in blocks for v in m.tolist()],
                pa.list_(pa.int64()),
            ),
        }
    )
    return spark.createDataFrame(table, "b int, cid long, cvec array<long>")


def train_blocks(
    vecs: DataFrame,
    groups: list[tuple[DataFrame, int, int]],
    *,
    id_col: str,
    vec_col: str,
    dims: int,
) -> list[DataFrame]:
    """Lloyd training of every block group over the same
    ``vecs[(id_col, vec_col)]``. Each group is ``(seeds, n_blocks,
    iters)``: ``iters`` rounds with the vector split into ``n_blocks``
    contiguous sub-vectors trained independently (n_blocks=1 == plain
    k-means); ``seeds`` is the frame of seed ids (centroid cid = seed
    id). Returns one final codebook per group as a small DataFrame
    (b int, cid long, cvec array<long>) materialized on the driver —
    codebook-sized, the MLlib-KMeans pattern.

    One seed collect serves every group. Per round: ONE corpus pass
    (mapInArrow + NumPy argmin) over the blocks of every group with
    rounds left, one codebook-sized aggregation, one driver-side
    exact-integer update per block. Blocks never interact, so each
    group's codebook is the one it would get trained alone. Empty
    centroids drop out of the update deterministically, matching the
    SQL formulation; a group with no seed rows (empty corpus or seed
    set) gets an empty codebook."""
    spark = vecs.sparkSession
    sc = spark.sparkContext
    layout = _layout(dims, [n for _, n, _ in groups])
    cb = _seed_codebook(
        vecs, [s for s, _, _ in groups], layout, id_col=id_col, vec_col=vec_col
    )
    iters = [it for _, _, it in groups]
    for r in range(max(iters, default=0)):
        blocks = [
            (gb, lo, hi)
            for gb, (g, _, lo, hi) in enumerate(layout)
            if iters[g] > r and gb in cb.cids
        ]
        if not blocks:
            break
        bc = sc.broadcast(cb)
        rows = (
            _partials_pass(vecs, bc, vec_col=vec_col, dims=dims, blocks=blocks)
            .groupBy("b", "cid", "d")
            .agg(F.sum("m").alias("m"), F.sum("s").alias("s"))
            .collect()
        )
        bc.destroy()
        _update(cb, rows, blocks)
    return [
        _codebook_frame(
            spark,
            [
                (b, cb.cids[gb], cb.mats[gb])
                for gb, (g2, b, _, _) in enumerate(layout)
                if g2 == g and gb in cb.cids
            ],
        )
        for g in range(len(groups))
    ]


def assign_blocks(
    vecs: DataFrame,
    groups: list[tuple[DataFrame, int]],
    *,
    id_col: str,
    vec_col: str,
    dims: int,
) -> DataFrame:
    """Encode every vector against frozen codebooks, one ``(cent,
    n_blocks)`` per group: one mapInArrow pass emitting (id, g, b, cid)
    — group g's nearest centroid per block, exact int64 squared-L2,
    ties to the smallest cid. A group with an empty codebook
    (empty-corpus build) emits no rows. Output keeps the caller's id
    column name/type."""
    spark = vecs.sparkSession
    layout = _layout(dims, [n for _, n in groups])
    # One collect per group: a train_blocks codebook is a local
    # relation, so these launch no job (a union of them would).
    by_block: dict[tuple[int, int], list] = {}
    for g, (cent, _) in enumerate(groups):
        for b, cid, cvec in cent.select("b", "cid", "cvec").collect():
            by_block.setdefault((g, b), []).append((cid, cvec))
    present = {g for g, _ in by_block}
    cb = _Codebook()
    blocks = []
    for gb, (g, b, lo, hi) in enumerate(layout):
        if g not in present:
            continue
        if (g, b) not in by_block:
            raise ValueError(
                f"lloyd: group {g} has no centroids for block {b}"
            )
        cids, mats = zip(*by_block[(g, b)])
        cb.set_block(
            gb, np.array(cids, dtype=np.int64), np.array(mats, dtype=np.int64)
        )
        blocks.append((gb, g, b, lo, hi))
    id_type = vecs.select(id_col).schema[0].dataType.simpleString()
    schema = f"{id_col} {id_type}, g int, b int, cid long"
    if not blocks:
        return spark.createDataFrame([], schema)
    bc = spark.sparkContext.broadcast(cb)
    gs = np.array([g for _, g, _, _, _ in blocks], dtype=np.int32)
    bs = np.array([b for _, _, b, _, _ in blocks], dtype=np.int32)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cbv: _Codebook = bc.value
        for batch in batches:
            ids = batch.column(0)
            X = list_matrix(batch.column(1), dims)
            n = len(ids)
            # Block-major: every id for the first block, then the next —
            # order is irrelevant downstream (joins/aggregations), but
            # keep it deterministic anyway.
            cids = [
                cbv.cids[gb][_assign_block(X[:, lo:hi], cbv, gb)]
                for gb, _, _, lo, hi in blocks
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays([ids] * len(blocks)),
                    pa.array(np.repeat(gs, n)),
                    pa.array(np.repeat(bs, n)),
                    pa.array(np.concatenate(cids)),
                ],
                [id_col, "g", "b", "cid"],
            )

    return vecs.select(id_col, vec_col).mapInArrow(fn, schema)


# --- DuckDB twins -------------------------------------------------------------
#
# The oracles re-derive every Lloyd round in SQL over the quantized
# vectors: ``q`` (vec_id, d, qx) for the full-width IVF coarse quantizer,
# ``pq`` (vec_id, b, d, qx) for the PQ blocks. A fragment holds no
# leading ``WITH`` and no trailing comma, so callers join fragments
# with ``,``.
#
# The rounds are PIVOTED (one row per vector with the dims as columns,
# distance as one inline expression, argmin via arg_min over a HUGEINT
# (dist, cid) pack) instead of the textbook per-(vec, dim) join +
# per-(vec, cid) grouped distance. Identical results — arg_min on
# dist·2^40 + cid IS lexicographic (dist, cid) because every cid < 2^40
# and dist >= 0 — but the heavy hash aggregation shrinks from corpus×k
# groups to corpus groups: measured 46.5 s → 1.0 s per PQ iteration at
# the 20k-vector replica with k=256, the difference between tractable
# and intractable ×10/×30 oracle sweeps (SCALING.md round 11).
_ARGMIN_PACK = 1 << 40  # cid domain bound; dist·2^40 stays << 2^127

_PQ_SQL = """pq AS (
  SELECT vec_id,
         (generate_subscripts(embedding, 1) - 1) // {PQ_DSUB} AS b,
         (generate_subscripts(embedding, 1) - 1) % {PQ_DSUB} AS d,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * {MICRO}) AS BIGINT) AS qx
  FROM embeddings
)"""


def quantized_sql(micro: int, cols: str = "vec_id", d: str = "d") -> str:
    """CTE ``q``: one row per (``cols``, dimension ``d``) with the
    micro-unit value ``qx`` (the oracle form of ``ann._quantize``)."""
    return f"""q AS (
  SELECT {cols}, generate_subscripts(embedding, 1) - 1 AS {d},
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * {micro}) AS BIGINT) AS qx
  FROM embeddings
)"""


def pq_sql(dsub: int, micro: int) -> str:
    """CTE ``pq``: ``q`` split into blocks ``b`` of ``dsub`` dims."""
    return _PQ_SQL.format(PQ_DSUB=dsub, MICRO=micro)


def _pivot_cols(expr: str, out: str, width: int) -> str:
    return ", ".join(
        f"MAX(CASE WHEN d = {d} THEN {expr} END) AS {out}{d}"
        for d in range(width)
    )


def _argmin_sql(width: int) -> str:
    """Nearest centroid ``c.cid`` of ``q`` (exact squared-L2 over the
    pivoted ``x``/``c`` columns, ties to the smallest cid)."""
    dist = " + ".join(
        f"(q.x{d} - c.c{d}) * (q.x{d} - c.c{d})" for d in range(width)
    )
    return (
        f"arg_min(c.cid, CAST({dist} AS HUGEINT)\n"
        f"                          * {_ARGMIN_PACK}::HUGEINT + c.cid) AS cid"
    )


def _round_sql(k: int, prev: str, width: int, blocked: bool, src: str) -> str:
    """Lloyd round ``k`` from codebook ``prev``: assign every vector of
    ``src`` (pivoted once, in round 1), then the truncated integer mean
    per centroid. Emits the codebook pivoted AND unpivoted as
    ``{c}{k}`` (cid[, b], d, cx), the shape of the persisted artifact.
    ``blocked`` rounds (PQ: ``p``-named CTEs) carry the block id ``b``
    on every key; full-width rounds (IVF: ``k``-named) do not."""
    p, c = ("p", "pc") if blocked else ("k", "c")
    b, qb = (", b", ", q.b") if blocked else ("", "")
    join, on, ab = (
        ("JOIN", " ON q.b = c.b", " AND q.b = a.b")
        if blocked
        else ("CROSS JOIN", "", "")
    )
    pivot_src = (
        f"{p}v1 AS (\n  SELECT vec_id{b}, {_pivot_cols('qx', 'x', width)}"
        f"\n  FROM {src} GROUP BY vec_id{b}\n),\n"
        if k == 1
        else ""
    )
    means = ", ".join(
        sdiv_duck(f"CAST(SUM(q.x{d}) AS BIGINT)", "COUNT(*)") + f" AS m{d}"
        for d in range(width)
    )
    d_list = ", ".join(str(d) for d in range(width))
    m_list = ", ".join(f"m{d}" for d in range(width))
    return f"""
{pivot_src}{p}w{k} AS (
  SELECT cid{b}, {_pivot_cols('cx', 'c', width)} FROM {prev} GROUP BY cid{b}
),
{p}a{k} AS (
  SELECT q.vec_id{qb},
         {_argmin_sql(width)}
  FROM {p}v1 q {join} {p}w{k} c{on}
  GROUP BY q.vec_id{qb}
),
{p}m{k} AS (
  SELECT a.cid{qb}, {means}
  FROM {p}v1 q JOIN {p}a{k} a ON q.vec_id = a.vec_id{ab}
  GROUP BY a.cid{qb}
),
{c}{k} AS (
  SELECT cid{b}, UNNEST([{d_list}]) AS d, UNNEST([{m_list}]) AS cx
  FROM {p}m{k}
)"""


def _rounds_sql(
    iters: int, width: int, blocked: bool, src: str
) -> tuple[str, str]:
    """Rounds 1..``iters`` chained from codebook ``c0`` / ``pc0``;
    returns the CTE text and the final codebook's name."""
    c = "pc" if blocked else "c"
    rounds = [
        _round_sql(k, f"{c}{k - 1}", width, blocked, src)
        for k in range(1, iters + 1)
    ]
    return ",".join(rounds), f"{c}{iters}"


def ivf_cells_sql(
    dims: int, iters: int, seed: str, micro: int
) -> tuple[str, str]:
    """CTEs ``q``, ``c0`` (the ``seed``-selected vectors, cid =
    vec_id), ``iters`` full-width Lloyd rounds and ``af`` (vec_id, cid):
    every vector's cell under the trained codebook (the oracle form of
    ``ann._ivf_train``). Returns the text and the final codebook's
    name."""
    rounds, final = _rounds_sql(iters, dims, False, "q")
    return (
        f"""{quantized_sql(micro)},
c0 AS (SELECT vec_id AS cid, d, qx AS cx FROM q WHERE {seed}),{rounds},
afw AS (
  SELECT cid, {_pivot_cols('cx', 'c', dims)} FROM {final} GROUP BY cid
),
af AS (
  SELECT q.vec_id,
         {_argmin_sql(dims)}
  FROM kv1 q CROSS JOIN afw c
  GROUP BY q.vec_id
)""",
        final,
    )


def pq_rounds_sql(iters: int, dsub: int, src: str = "pq") -> tuple[str, str]:
    """PQ rounds 1..``iters`` from ``pc0`` over the training
    population ``src``; returns the text and the final codebook's
    name."""
    return _rounds_sql(iters, dsub, True, src)


def pq_codebook_sql(
    dsub: int, iters: int, seed: str, micro: int
) -> tuple[str, str]:
    """CTEs ``pq``, ``pc0`` (the ``seed``-selected vectors' blocks) and
    ``iters`` PQ rounds: the oracle form of ``ann._pq_train``. Returns
    the text and the final codebook's name."""
    rounds, final = pq_rounds_sql(iters, dsub)
    return (
        f"""{pq_sql(dsub, micro)},
pc0 AS (SELECT vec_id AS cid, b, d, qx AS cx FROM pq WHERE {seed}),{rounds}""",
        final,
    )


def pq_codes_sql(
    final_cb: str, dsub: int, out: str = "codes", src: str = "pq"
) -> str:
    """CTE ``out`` (vec_id, b, cid): every vector of ``src`` encoded
    against the trained codebook ``final_cb`` (the oracle form of
    ``ann._pq_assign``). ``src`` may differ from the training
    population (delta assignment encodes vectors the training never
    saw), so it re-pivots under its own name."""
    return f"""
{out}v AS (
  SELECT vec_id, b, {_pivot_cols('qx', 'x', dsub)} FROM {src} GROUP BY vec_id, b
),
{out}w AS (
  SELECT cid, b, {_pivot_cols('cx', 'c', dsub)} FROM {final_cb} GROUP BY cid, b
),
{out} AS (
  SELECT q.vec_id, q.b,
         {_argmin_sql(dsub)}
  FROM {out}v q JOIN {out}w c ON q.b = c.b
  GROUP BY q.vec_id, q.b
)"""


def pq_lut_sql(
    final_cb: str, n_query: int, out: str = "lut", src: str = "pq"
) -> str:
    """CTE ``out`` (query_id, b, cid, pdist): the ADC lookup table, the
    exact block distance of each query (vec_id < ``n_query``) to every
    code. Query-set-sized, so the textbook grouped-distance shape is
    kept but the scan is pushed down to the query vectors BEFORE the
    codebook join."""
    return f"""
{out} AS (
  SELECT q.vec_id AS query_id, q.b, c.cid,
         CAST(SUM((q.qx - c.cx) * (q.qx - c.cx)) AS BIGINT) AS pdist
  FROM (SELECT * FROM {src} WHERE vec_id < {n_query}) q
  JOIN {final_cb} c ON q.b = c.b AND q.d = c.d
  GROUP BY q.vec_id, q.b, c.cid
)"""


#: CTE ``scored``: every (query, neighbor) ADC distance over the full
#: code table, self excluded.
ADC_SCORED_SQL = """scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
  FROM codes c JOIN lut l ON c.b = l.b AND c.cid = l.cid
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
)"""


def adc_rank_sql(col: int, partition: str = "query_id") -> str:
    """``rk``: the ROW_NUMBER on ``(adc_dist, neighbor_id)`` per
    ``partition``, written at column ``col``."""
    return (
        f"ROW_NUMBER() OVER (PARTITION BY {partition}\n"
        + " " * (col + len("ROW_NUMBER() OVER ("))
        + "ORDER BY adc_dist, neighbor_id) AS rk"
    )


def adc_topk_sql(k: int) -> str:
    """The closing SELECT of an ADC oracle: each query's ``k`` nearest
    rows of ``scored``, ordered by ``(query_id, rk)``."""
    return topk_sql("query_id, neighbor_id, adc_dist, rk", k, adc_rank_sql(12))
