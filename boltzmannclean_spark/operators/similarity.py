"""Similarity search over embedding columns (SURVEY.md §2.B
"similarity search"): brute-force cosine top-k as the exact baseline,
plus a random-hyperplane LSH-bucketed variant as the scale path.

Scale design: brute force is queries × corpus — fine for a broadcast
query set, linear in corpus size, and embarrassingly parallel (no
shuffle: queries broadcast, corpus streams). The LSH variant prunes the
corpus per query to matching sign-buckets first, trading recall for a
candidate set ~bucket_fraction of the corpus; recall is asserted in
tests/test_similarity.py. At 100 TB the same two plans hold — the
broadcast side is the query set either way.

The IVF / PQ / IVF×PQ queries are fixture instantiations of
``boltzmannclean_spark/ann.py``: their Lloyd training, encoding and ADC
top-k scoring are ``ann``'s trainer and scorer, called in memory. This
module owns only their fixture constants and the oracle strings.

Every cosine path here (and in ``ann_index.py``, ``dedup.py`` and
``pipeline.py``) builds its ``(vec_id, …, e, nrm)`` preamble, cosine
column and per-query ranking from ``functions/vectors.py``, which also
holds their DuckDB twins. The oracles' Lloyd rounds, quantized CTEs,
PQ codes/LUT and ADC tail come from ``functions/lloyd.py``, next to the
trainer they re-derive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from boltzmannclean_spark.ann import _adc_topk, _ivf_train, _quantize, _train
from boltzmannclean_spark.functions.lloyd import (
    ADC_SCORED_SQL,
    adc_topk_sql,
    ivf_cells_sql,
    pq_codebook_sql,
    pq_codes_sql,
    pq_lut_sql,
    quantized_sql,
)
from boltzmannclean_spark.functions.topk import topk_per_key
from boltzmannclean_spark.functions.vectors import (
    as_double,
    cosine,
    cosine_rank_sql,
    cosine_sql,
    dot_unrolled,
    normed,
    normed_sql,
    rank_by_cosine,
    scored_pairs,
    topk_sql,
)
from boltzmannclean_spark.plans.registry import register
from boltzmannclean_spark.sources.catalog import load_table

TOP_K = 10
N_QUERY = 5
N_PLANES = 4  # 16 sign buckets
_EMB_DIMS = 64

# --- shared exact-integer helpers -------------------------------------------
#
# Cross-engine float determinism: wherever a result depends on SUMS of
# floats (centroids, distances-for-argmin, Gram matrices), values are
# quantized to integer micro-units — round(x * 1e6) as BIGINT — summed
# exactly (order-free), and compared/divided in integer arithmetic, so
# the outcome is bit-identical in any engine at any parallelism.
# Per-row IEEE arithmetic (dot products, cosine) needs no such recipe.

MICRO = 1_000_000


# Sign-safe integer division (shared definition: functions/exact.py).
from boltzmannclean_spark.functions.exact import (  # noqa: E402
    sdiv_duck as _sdiv_duck,
    sdiv_spark as _sdiv_spark,
)


SIM_TOPK_ORACLE = f"""
{normed_sql()},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {cosine_sql("q", "c", 9, 2)} AS cosine
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY}
)
{topk_sql("query_id, neighbor_id, neighbor_label, cosine, rk", TOP_K)}"""


@register(
    "similarity_cosine_topk",
    oracle=SIM_TOPK_ORACLE,
    tags=("similarity", "topk"),
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query vectors against the
    corpus, then one per-query top-k window. With only N_QUERY keys
    the window's Exchange could land the whole scored corpus on
    N_QUERY tasks; Spark's partial group limit below that Exchange
    keeps k rows per query per map task, so the final window ranks
    only k * map tasks survivors per query (functions/topk.py)."""
    from boltzmannclean_spark.pipeline import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # r15: dims=None — the HOF fold, NOT dot_unrolled. At this call
    # site the scored volume is only |corpus| × N_QUERY rows, and the
    # unrolled 128-node expression tree costs more in analysis/codegen
    # than it saves per row (bench regression x1.95 caught at round
    # close; same-session A/B: unrolled 1.39-1.80 s vs fold
    # 0.71-0.91 s, rows identical). The unrolled form stays where the
    # pair fan-out is large (kNN, SemDeDup, ANN serve legs).
    return cosine_topk(
        emb, emb.where(F.col("vec_id") < N_QUERY), k=TOP_K, dims=None
    )


def _query_side(df: DataFrame, *extra) -> DataFrame:
    """``(vec_id, …, e, nrm)`` rows as the query side of
    ``scored_pairs``: ``(query_id, qe, qnrm, extra…)``."""
    return df.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        *extra,
    )


# Deterministic pseudo-random hyperplanes: coefficient for (plane p, dim i)
# is +1 if hex digit (i mod 32) of md5('p|i') is >= '8' else -1. Both
# engines derive identical planes from md5, so bucket assignment is
# portable and the whole ANN pipeline is oracle-checkable.
ANN_ORACLE = f"""
{normed_sql()},
planes AS (
  SELECT p, list_transform(range(1, 65),
           i -> CASE WHEN substring(md5(p::VARCHAR || '|' || i::VARCHAR), 1, 1)
                       IN ('8','9','a','b','c','d','e','f')
                     THEN 1.0 ELSE -1.0 END) AS w
  FROM (SELECT UNNEST(range(0, {N_PLANES})) AS p)
),
bucketed AS (
  SELECT n.vec_id, n.label, n.e, n.nrm,
         STRING_AGG(CASE WHEN list_reduce(
             list_transform(range(1, 65), i -> n.e[i] * planes.w[i]),
             (s, x) -> s + x) >= 0 THEN '1' ELSE '0' END, '' ORDER BY planes.p)
           AS bucket
  FROM n CROSS JOIN planes
  GROUP BY n.vec_id, n.label, n.e, n.nrm
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cosine_sql("q", "c", 9, 2)} AS cosine
  FROM bucketed q JOIN bucketed c
    ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERY}
)
{topk_sql("query_id, neighbor_id, cosine, rk", TOP_K)}"""


@register("similarity_ann_lsh", oracle=ANN_ORACLE, tags=("similarity", "lsh", "ann"))
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: md5-derived ±1 planes → sign-bit
    bucket key → candidates restricted to the query's bucket → exact
    cosine + top-k. The bucket equi-join replaces the corpus scan with
    ~1/2^planes of it; planes are deterministic so the oracle replicates
    the identical pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = normed(emb, ["vec_id", "label"])
    planes = spark.range(N_PLANES).select(
        F.col("id").cast("int").alias("p"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.when(
                F.substring(
                    F.md5(F.concat(F.col("id").cast("string"), F.lit("|"), i.cast("string"))),
                    1,
                    1,
                ).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                1.0,
            ).otherwise(-1.0),
        ).alias("w"),
    )
    bucketed = (
        n.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "label",
            "e",
            "nrm",
            "p",
            F.when(dot_unrolled(F.col("e"), F.col("w"), _EMB_DIMS) >= 0, "1").otherwise("0").alias("bit"),
        )
        .groupBy("vec_id", "label", "e", "nrm")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("p", "bit"))),
                    lambda s: s.getField("bit"),
                ),
            ).alias("bucket")
        )
    )
    q = _query_side(
        bucketed.where(F.col("vec_id") < N_QUERY), F.col("bucket").alias("qbucket")
    )
    scored = scored_pairs(
        bucketed, q, F.col("bucket") == F.col("qbucket"), dims=_EMB_DIMS
    )
    return rank_by_cosine(scored, TOP_K)


# IVF ANN with a TRAINED coarse quantizer: centroids are initialized
# from the seed vectors (vec_id % CENT_MOD == 0) and refined by
# KMEANS_ITERS rounds of Lloyd's algorithm in exact integer micro-units
# — assignment by exact integer squared-L2 (ties to the smallest
# centroid id), update by sign-safe TRUNCATED integer mean — so both
# engines iterate bit-identically and the final cells are oracle-exact.
# A query then scans only its own cell (nprobe=1) with exact cosine.
# The Spark side is ann._ivf_train; the oracle's rounds are
# functions/lloyd.py's ivf_cells_sql.
CENT_MOD = 100
KMEANS_ITERS = 4

#: The IVF oracles' CTEs q, c0..c{KMEANS_ITERS} and af, and the final
#: codebook's name.
IVF_CELLS_SQL, IVF_FINAL = ivf_cells_sql(
    _EMB_DIMS, KMEANS_ITERS, f"vec_id % {CENT_MOD} = 0", MICRO
)

IVF_ORACLE = f"""
{normed_sql()},
{IVF_CELLS_SQL},
cells AS (
  SELECT n.vec_id, n.e, n.nrm, af.cid
  FROM n JOIN af ON n.vec_id = af.vec_id
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {cosine_sql("a", "b", 9, 2)} AS cosine
  FROM cells a JOIN cells b
    ON a.cid = b.cid AND b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERY}
)
{topk_sql("query_id, neighbor_id, cosine, rk", TOP_K)}"""


def _assign_cells(n: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment without a per-vector window.

    The naive form — crossJoin(broadcast(cent)) then ``row_number() OVER
    (PARTITION BY vec_id)`` — forces an Exchange of the fanned-out
    corpus (k× the data) just to pick each vector's argmax. A grouped
    ``max_by`` computes the same nearest centroid with MAP-SIDE partial
    aggregation: each task reduces its fan-out back to one row per
    vector before the shuffle, so the Exchange carries ~corpus rows
    regardless of k. Ties break to the smallest centroid_id via the
    (ccos, -centroid_id) ordering struct, matching the oracle's
    ``ORDER BY ccos DESC, centroid_id``."""
    return (
        n.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "e",
            "nrm",
            "centroid_id",
            cosine("e", "ce", "nrm", "cnrm", _EMB_DIMS).alias("ccos"),
        )
        .groupBy("vec_id", "label", "e", "nrm")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("ccos"), (-F.col("centroid_id")).alias("nid")),
            ).alias("centroid_id")
        )
    )


def _seed_cells(n: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The seed-centroid IVF of the nprobe queries: centroids ``(centroid_id,
    ce, cnrm)`` are the vectors with vec_id % CENT_MOD == 0, and every
    vector of ``n`` is assigned to its nearest one (``_assign_cells``)."""
    cent = n.where(F.col("vec_id") % CENT_MOD == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    return cent, _assign_cells(n, cent)


def _probes(
    queries: DataFrame, cent: DataFrame, nprobe: int, rank_col: str, *keep
) -> DataFrame:
    """Each query's ``nprobe`` nearest centroids by ``(ccos DESC,
    centroid_id)``, as the query side ``(query_id, qe, qnrm, qcent,
    keep…)``: a window over the query set × centroids, never the
    corpus."""
    w_probe = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "centroid_id")
    return _query_side(
        queries.crossJoin(F.broadcast(cent))
        .withColumn("ccos", cosine("e", "ce", "nrm", "cnrm", _EMB_DIMS))
        .withColumn(rank_col, F.row_number().over(w_probe))
        .where(F.col(rank_col) <= nprobe),
        F.col("centroid_id").alias("qcent"),
        *keep,
    )


def _kmeans_cells(n: DataFrame, dims: int) -> DataFrame:
    """Train the IVF coarse quantizer and return final cell assignments:
    ``ann._ivf_train`` over (vec_id, qvec) of ``dims``-long vectors,
    seeded by the vec_ids divisible by CENT_MOD, KMEANS_ITERS
    exact-integer Lloyd rounds (ties to the smallest cid,
    truncate-toward-zero update — the DuckDB oracle's derivation). The assignment is joined back to the corpus
    by the unique vec_id."""
    q = n.select(F.col("vec_id").alias("id"), "qvec")
    _, asg = _ivf_train(
        q,
        dims=dims,
        kmeans_iters=KMEANS_ITERS,
        seeds=q.where(F.col("id") % CENT_MOD == 0).select("id"),
    )
    asg = asg.select(F.col("id").alias("vec_id"), F.col("cell").alias("cid"))
    return n.join(asg, "vec_id").select("vec_id", "label", "e", "nrm", "cid")


@register("similarity_ann_ivf", oracle=IVF_ORACLE, tags=("similarity", "ivf", "ann"))
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a trained coarse quantizer: seeded fixed-iteration
    k-means (exact integer micro-units, see _kmeans_cells) assigns every
    vector to a data-distribution-aware cell; a query then searches only
    its own cell (nprobe=1) with exact cosine + top-k.

    Scale path: training touches the corpus KMEANS_ITERS+1 times but
    each pass is a broadcast + map-side partial aggregation (the
    centroid table is k rows); the candidate join is an equi-join on
    cid, so a query touches ~corpus/k vectors. Raising recall = raising
    nprobe (probe the query's top-p cells) — same plan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = normed(
        emb,
        ["vec_id", "label"],
        extra=[_quantize(F.col("embedding"), MICRO).alias("qvec")],
    )
    cells = _kmeans_cells(n, _EMB_DIMS)
    q = _query_side(
        cells.where(F.col("vec_id") < N_QUERY), F.col("cid").alias("qcid")
    )
    scored = scored_pairs(cells, q, F.col("cid") == F.col("qcid"), dims=_EMB_DIMS)
    return rank_by_cosine(scored, TOP_K)


NPROBE = 2

IVF_NPROBE_ORACLE = f"""
{normed_sql()},
cent AS (
  SELECT vec_id AS centroid_id, e AS ce, nrm AS cnrm FROM n
  WHERE vec_id % {CENT_MOD} = 0
),
-- NARROW rank (the r12 autotuner lesson, applied here after the x30
-- sweep spilled 24 GiB): the vec x centroid window carries only ids +
-- the score, never the embedding arrays; arrays re-join by id AFTER
-- the crk filter. MATERIALIZED so the double reference (assigned +
-- probes) does not re-evaluate the cross join.
ranked AS MATERIALIZED (
  SELECT n.vec_id, cent.centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY n.vec_id
           ORDER BY {cosine_sql("n", "cent", 20, 3, "ce", "cnrm")} DESC,
                    cent.centroid_id) AS crk
  FROM n CROSS JOIN cent
),
assigned AS MATERIALIZED (
  SELECT n.vec_id, n.label, n.e, n.nrm, r.centroid_id
  FROM ranked r JOIN n ON n.vec_id = r.vec_id WHERE r.crk = 1
),
probes AS (
  SELECT n.vec_id, n.e, n.nrm, r.centroid_id
  FROM ranked r JOIN n ON n.vec_id = r.vec_id
  WHERE r.crk <= {NPROBE} AND r.vec_id < {N_QUERY}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cosine_sql("q", "c", 9, 2)} AS cosine
  FROM probes q JOIN assigned c
    ON q.centroid_id = c.centroid_id AND c.vec_id <> q.vec_id
)
{topk_sql("query_id, neighbor_id, cosine, rk", TOP_K)}"""


@register(
    "similarity_ann_ivf_nprobe",
    oracle=IVF_NPROBE_ORACLE,
    tags=("similarity", "ivf", "ann", "nprobe"),
)
def similarity_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-cell probing (nprobe=2): queries search their 2
    nearest coarse cells instead of 1, trading ~2× candidates for higher
    recall — the standard IVF recall knob. Corpus assignment (crk=1) is
    unchanged; only the query side fans out, so the plan is the same
    cell equi-join with a 2-rows-per-query probe table. Probed cells are
    distinct per query, so candidate pairs are already unique — no
    dedup stage needed. Corpus assignment is the shared map-side max_by
    kernel (_assign_cells); only the N_QUERY-row query side needs a
    full centroid ranking, and that window runs over a table the size
    of the query set, not the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = normed(emb, ["vec_id", "label"])
    cent, assigned = _seed_cells(n)
    probes = _probes(n.where(F.col("vec_id") < N_QUERY), cent, NPROBE, "crk")
    scored = scored_pairs(
        assigned, probes, F.col("centroid_id") == F.col("qcent"), dims=_EMB_DIMS
    )
    return rank_by_cosine(scored, TOP_K)


# --- embedding aggregation / classification ---------------------------------
#
# Group averages of floats are merge-order dependent, so centroids are
# computed in exact integer micro-units (see the shared helpers at the
# top of this module): quantize, sum exactly, divide in integers.


@register(
    "embedding_centroids",
    oracle=f"""
WITH {quantized_sql(MICRO, "label", "dim")}
SELECT label, dim, COUNT(*) AS n_vecs,
       CAST(SUM(qx) AS DOUBLE) / (COUNT(*) * {MICRO}) AS centroid
FROM q GROUP BY label, dim
ORDER BY label, dim
""",
    tags=("similarity", "embedding", "centroid"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension).

    posexplode fans each vector into 64 (dim, value) rows; the partial
    aggregation combines map-side, so the shuffle carries one partial
    sum per (label, dim) per partition — constant in corpus size. The
    flat layout is what a feature store would join against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("label", F.posexplode(_quantize(F.col("embedding"), MICRO)).alias("dim", "qx"))
    return (
        q.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.sum("qx").cast("double") / (F.count(F.lit(1)) * MICRO)).alias(
                "centroid"
            ),
        )
        .orderBy("label", "dim")
    )


@register(
    "embedding_nearest_centroid",
    oracle=f"""
WITH {quantized_sql(MICRO, "vec_id, label")},
c AS (
  SELECT label AS cl, d,
         CAST(ROUND(CAST(SUM(qx) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
  FROM q GROUP BY label, d
),
ss AS (
  SELECT q.vec_id, q.label, c.cl,
         CAST(SUM((q.qx - c.cx) * (q.qx - c.cx)) AS BIGINT) AS dist_sq
  FROM q JOIN c ON q.d = c.d
  GROUP BY q.vec_id, q.label, c.cl
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY dist_sq, cl) AS rn
  FROM ss
)
SELECT vec_id, label, cl AS assigned_label, dist_sq,
       CASE WHEN label = cl THEN 1 ELSE 0 END AS correct
FROM r WHERE rn = 1
ORDER BY vec_id
""",
    tags=("similarity", "embedding", "classify"),
)
def embedding_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification (one k-means assignment step):
    label centroids in exact micro-units, then every vector scores all
    k centroids via a JVM-side zip_with/aggregate fold — no explode of
    the corpus, no shuffle beyond the 640-row centroid aggregate; the
    k-row centroid table broadcasts. The argmin is a grouped min_by
    (map-side partial aggregation — the k× fan-out never shuffles),
    and the integer distance makes it reproducible across engines and
    partitionings."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", "label", _quantize(F.col("embedding"), MICRO).alias("qvec"))
    qx = q.select("label", F.posexplode("qvec").alias("d", "qx"))
    cent = qx.groupBy("label", "d").agg(
        F.round(F.sum("qx").cast("double") / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("cx")
    )
    carr = cent.groupBy(F.col("label").alias("cl")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "cx"))), lambda s: s.cx
        ).alias("cvec")
    )
    scored = q.crossJoin(F.broadcast(carr)).select(
        "vec_id",
        "label",
        "cl",
        F.aggregate(
            F.zip_with("qvec", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist_sq"),
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.min_by(F.struct("cl", "dist_sq"), F.struct("dist_sq", "cl")).alias("b")
    )
    return (
        best.select(
            "vec_id",
            "label",
            F.col("b.cl").alias("assigned_label"),
            F.col("b.dist_sq").alias("dist_sq"),
            F.when(F.col("label") == F.col("b.cl"), 1).otherwise(0).alias("correct"),
        )
        .orderBy("vec_id")
    )


N_NORM_DIMS = 8  # normalize the leading dims (all 64 works identically)


@register(
    "embedding_quantile_normalize",
    oracle=f"""
WITH q AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT vec_id, dim,
       CAST(RANK() OVER w - 1 AS DOUBLE)
         / (COUNT(*) OVER (PARTITION BY dim) - 1) AS pct
FROM q
WHERE dim < {N_NORM_DIMS}
WINDOW w AS (PARTITION BY dim ORDER BY x)
ORDER BY vec_id, dim
""",
    tags=("similarity", "embedding", "normalize"),
)
def embedding_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile (rank) normalization of embeddings — the
    distribution-free rescaling for mixed-source vectors. percent_rank
    is (rank-1)/(n-1) over exact integer ranks, so outputs are
    bit-identical cross-engine with zero float recipes; ties share a
    rank by definition in both. One shuffle on dim (64 partitions of
    corpus-size each — at 100 TB, range-partition within dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "x"),
    ).where(F.col("dim") < N_NORM_DIMS)
    w = Window.partitionBy("dim").orderBy("x")
    return (
        q.select(
            "vec_id",
            "dim",
            F.percent_rank().over(w).alias("pct"),
        )
        .orderBy("vec_id", "dim")
    )


# --- dominant principal direction via integer power iteration ---------------

GRAM_DOWNSCALE = 1_000_000_000
PCA_ITERS = 3


def _pca_oracle() -> str:
    its = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        its.append(
            f"""
u{k} AS (
  SELECT g.i AS d, CAST(SUM(g.gs * {prev}.v) AS BIGINT) AS u
  FROM g JOIN {prev} ON {prev}.d = g.j GROUP BY g.i
),
m{k} AS (SELECT MAX(ABS(u)) AS m FROM u{k}),
v{k} AS (
  SELECT d, {_sdiv_duck("u * 1000000", "m")} AS v
  FROM u{k} CROSS JOIN m{k}
)"""
        )
        prev = f"v{k}"
    return f"""
WITH {quantized_sql(MICRO)},
g AS (
  SELECT a.d AS i, b.d AS j,
         {_sdiv_duck(f"CAST(SUM(a.qx * b.qx) AS BIGINT)", str(GRAM_DOWNSCALE))} AS gs
  FROM q a JOIN q b ON a.vec_id = b.vec_id
  GROUP BY a.d, b.d
),
v0 AS (SELECT DISTINCT d, CAST({MICRO} AS BIGINT) AS v FROM q),{",".join(its)}
SELECT d AS dim, v AS eigvec_micro FROM {prev} ORDER BY dim
"""


@register(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle(),
    tags=("similarity", "pca", "iterative"),
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by power
    iteration on the Gram matrix — the first step of distributed PCA.
    The Gram accumulates as EXACT integer products over one corpus pass
    (the classic outer-product aggregation: 64×64 partial sums per
    partition, constant-size shuffle regardless of corpus rows); the
    64×64 iteration itself is tiny and stays declarative. Every step is
    integer arithmetic with sign-safe scaling divisions, so all three
    iterations are bit-identical in any engine at any parallelism."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode(_quantize(F.col("embedding"), MICRO)).alias("d", "qx")
    )
    a, b = q.alias("a"), q.alias("b")
    g = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.d").alias("i"), F.col("b.d").alias("j"))
        .agg(F.sum(F.col("a.qx") * F.col("b.qx")).alias("s"))
        .selectExpr("i", "j", _sdiv_spark("s", str(GRAM_DOWNSCALE)) + " AS gs")
    )
    v = q.select("d").distinct().select("d", F.lit(MICRO).cast("long").alias("v"))
    for _ in range(PCA_ITERS):
        u = (
            g.join(v, g.j == v.d)
            .groupBy("i")
            .agg(F.sum(F.col("gs") * F.col("v")).alias("u"))
            .withColumnRenamed("i", "d")
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        v = u.crossJoin(F.broadcast(m)).selectExpr(
            "d", _sdiv_spark("u * 1000000", "m") + " AS v"
        )
    return v.select(F.col("d").alias("dim"), F.col("v").alias("eigvec_micro")).orderBy(
        "dim"
    )


# --- kNN imputation over embeddings ----------------------------------------

KNN_K = 5
MASK_MOD = 10  # vec_id % 10 == 0 -> dimension 0 treated as missing


@register(
    "impute_knn_embedding",
    oracle=f"""
WITH {quantized_sql(MICRO)},
masked AS (SELECT * FROM q WHERE vec_id % {MASK_MOD} = 0),
cands  AS (SELECT * FROM q WHERE vec_id % {MASK_MOD} <> 0),
ss AS (
  SELECT m.vec_id AS m_id, c.vec_id AS c_id,
         CAST(SUM((m.qx - c.qx) * (m.qx - c.qx)) AS BIGINT) AS dist_sq
  FROM masked m JOIN cands c ON m.d = c.d
  WHERE m.d >= 1
  GROUP BY m.vec_id, c.vec_id
),
nn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY m_id ORDER BY dist_sq, c_id) AS rn
  FROM ss
),
imp AS (
  SELECT nn.m_id AS vec_id,
         CAST(ROUND(SUM(c0.qx) / {KNN_K}.0) AS BIGINT) AS imputed_micro
  FROM nn JOIN cands c0 ON c0.vec_id = nn.c_id AND c0.d = 0
  WHERE nn.rn <= {KNN_K}
  GROUP BY nn.m_id
)
SELECT imp.vec_id, t.qx AS true_micro, imp.imputed_micro,
       ABS(t.qx - imp.imputed_micro) AS abs_err_micro
FROM imp JOIN masked t ON t.vec_id = imp.vec_id AND t.d = 0
ORDER BY imp.vec_id
""",
    tags=("imputation", "knn", "embedding"),
)
def impute_knn_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN imputation of a masked embedding dimension: vectors with
    vec_id % 10 == 0 'lose' dimension 0; each is reconstructed as the
    mean of its 5 nearest neighbors (distance over the 63 observed
    dims) — the distributed-kNN alternative to the RBM imputer on the
    vector side of the house. The small masked side broadcasts and the
    candidate corpus STREAMS (at 100 TB: prune candidates to LSH
    bucket-mates first — similarity_ann_lsh is the pruner). Integer
    micro-unit distances make neighbor choice and the imputed value
    bit-deterministic; abs_err_micro reports reconstruction quality."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", _quantize(F.col("embedding"), MICRO).alias("qvec"))
    masked = q.where(F.col("vec_id") % MASK_MOD == 0).select(
        F.col("vec_id").alias("m_id"), F.col("qvec").alias("m_vec")
    )
    cands = q.where(F.col("vec_id") % MASK_MOD != 0).select(
        F.col("vec_id").alias("c_id"), F.col("qvec").alias("c_vec")
    )
    # r16 (guide §4.2 — the r15 cosine-verify treatment, VERDICT r15
    # #4): the pair fan-out AND the 63-term distance move into ONE
    # mapInArrow pass over the streaming candidate corpus. The former
    # shape (r15: unrolled JVM projection over a
    # BroadcastNestedLoopJoin cross, 57 s → 3.0 s) still materialized
    # every pair row carrying BOTH 64-long arrays (~370 MB at sf0.1's
    # 360k pairs) just so codegen could fold them down to 4 longs;
    # here each Arrow batch emits (m_id, c_id, dist_sq, c0) directly.
    # The masked side is driver-collected — the same scale posture as
    # the former F.broadcast(masked), which also materializes the
    # relation on the driver (corpus/10 rows by construction; at
    # 100 TB prune BOTH sides to LSH bucket-mates first, per the
    # docstring). Exactness: int64 throughout; the distance uses the
    # |m|²+|c|²−2·m·c expansion — exact integer arithmetic, equal to
    # the oracle's Σ(m−c)² (integer adds commute). Rows are chunked so
    # that one chunk's (chunk × n_m) cells — the distance temp plus the
    # four int64 columns emitted beside it — stay within 16M cells.
    import numpy as np
    import pyarrow as pa

    from boltzmannclean_spark.functions.vectors import list_matrix

    mrows = masked.collect()
    mrows.sort(key=lambda r: r[0])
    n_m = len(mrows)
    M = (
        np.array([r[1] for r in mrows], dtype=np.int64)
        if n_m
        else np.zeros((0, _EMB_DIMS), dtype=np.int64)
    )
    m_ids = np.array([r[0] for r in mrows], dtype=np.int64)
    Msub = M[:, 1:]  # observed dims 2..64 (dim 1 is the masked one)
    msq = np.einsum("ij,ij->i", Msub, Msub)
    step = max(1, 16_000_000 // (5 * max(1, n_m)))

    def _pairs(batches):
        for b in batches:
            if b.num_rows == 0 or n_m == 0:
                continue
            c_ids = b.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            C = list_matrix(b.column(1), _EMB_DIMS)
            c0 = C[:, 0]
            Csub = C[:, 1:]
            csq = np.einsum("ij,ij->i", Csub, Csub)
            for lo in range(0, Csub.shape[0], step):
                Cc = Csub[lo : lo + step]
                D = Cc @ Msub.T  # (chunk, n_m) int64, exact
                np.multiply(D, -2, out=D)
                D += csq[lo : lo + step, None]
                D += msq[None, :]
                n = Cc.shape[0]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.tile(m_ids, n)),
                        pa.array(np.repeat(c_ids[lo : lo + step], n_m)),
                        pa.array(D.reshape(-1)),
                        pa.array(np.repeat(c0[lo : lo + step], n_m)),
                    ],
                    ["m_id", "c_id", "dist_sq", "c0"],
                )

    pairs = cands.mapInArrow(
        _pairs, "m_id long, c_id long, dist_sq long, c0 long"
    )
    imp = (
        topk_per_key(
            pairs,
            keys=["m_id"],
            order=[F.col("dist_sq"), F.col("c_id")],
            k=KNN_K,
            rank_col="rn",
        )
        .groupBy("m_id")
        .agg(
            F.round(F.sum("c0") / float(KNN_K), 0).cast("long").alias(
                "imputed_micro"
            )
        )
    )
    truth = masked.select(
        "m_id", F.element_at("m_vec", 1).alias("true_micro")
    )
    return (
        imp.join(truth, "m_id")
        .select(
            F.col("m_id").alias("vec_id"),
            "true_micro",
            "imputed_micro",
            F.abs(F.col("true_micro") - F.col("imputed_micro")).alias(
                "abs_err_micro"
            ),
        )
        .orderBy("vec_id")
    )


@register(
    "similarity_ann_brp_mllib",
    oracle=None,  # MLlib's random-projection hash family is JVM-internal;
    # invariants (exact-distance verification, recall vs brute force)
    # live in tests/test_llm_ops.py.
    tags=("similarity", "ann", "mllib", "euclidean"),
)
def similarity_ann_brp_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH ANN — the idiomatic-Spark
    alternate to the hand-built LSH/IVF variants, on EUCLIDEAN distance
    (completing the MLlib pairing with dedup_minhash_mllib's Jaccard).
    approxNearestNeighbors serves one query at a time (driver-looped —
    fine for interactive lookup, not batch); the batch path used here
    is approxSimilarityJoin(queries, corpus, radius): same bucketed
    equi-join economics as the SQL-composable variants — candidates are
    bucket-colliders, verified with the exact distance, so precision is
    1.0 and only recall is approximate. Seeded and deterministic;
    rows-only at the harness because the hash family is JVM-internal."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", array_to_vector(as_double("embedding")).alias("features")
    )
    q = v.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("features").alias("qf")
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=42,
    )
    model = brp.fit(v)
    qf = q.withColumnRenamed("qf", "features")
    pairs = (
        model.approxSimilarityJoin(qf, v, 12.0, distCol="euclid_dist")
        .where(F.col("datasetA.query_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.query_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.col("euclid_dist").cast("double").alias("euclid_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("euclid_dist", "neighbor_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "euclid_dist", "rk")
        .orderBy("query_id", "rk")
    )


# Product quantization (Jégou et al. 2011): split the 64-dim space into
# PQ_M blocks of PQ_DSUB dims; per block, train a PQ_K-code codebook by
# Lloyd iterations in exact integer micro-units (same recipe as the IVF
# coarse quantizer, with the block id as an extra grouping key), encode
# every vector as PQ_M small codes, and answer queries by ADC —
# Asymmetric Distance Computation: a per-query lookup table of exact
# block distances to every code, summed over blocks per neighbor. All
# distances are exact integer sums, so both engines agree bit-for-bit.
# r11 config: 32 blocks × 256 codes (8-bit codes, the industry
# standard; 2-dim sub-vectors). Chosen from a measured grid at sf0.1
# (2000 near-isotropic vectors, 50 queries, full-scan recall@10):
#   m=8  k=16  it=6: 0.168   (the r10 config at this scale)
#   m=8  k=256 it=6: 0.400
#   m=16 k=256 it=6: 0.612
#   m=32 k=64  it=3: 0.666
#   m=32 k=128 it=3: 0.760
#   m=32 k=256 it=2: 0.814   <- chosen (it=3 adds only +0.006)
# Residual (IVF-centered) PQ was measured on the same grid and adds
# ~nothing here (m=16 k=256: 0.600 res vs 0.612 raw) because the
# fixture embeddings are near-isotropic (SVD spectrum 3.7..1.8) — the
# coarse centroids capture almost no variance. The residual option
# ships in ann.py (build_ann_index(residual=True)) as the scale path
# for clustered real-world corpora; see SCALING.md round-11.
# The Spark side of every PQ query is ann._train + ann._adc_topk (the
# code behind build_ann_index / ann_search); the SQL below is the oracle.
PQ_M = 32
PQ_DSUB = 2
PQ_K = 256
PQ_ITERS = 2


#: The PQ oracles' CTEs pq, pc0..pc{PQ_ITERS}, and the final codebook's
#: name.
PQ_CODEBOOK_SQL, PQ_FINAL = pq_codebook_sql(
    PQ_DSUB, PQ_ITERS, f"vec_id < {PQ_K}", MICRO
)

#: CTEs codes and lut: the corpus codes and the queries' ADC table.
PQ_SCAN_SQL = (
    f"{pq_codes_sql(PQ_FINAL, PQ_DSUB)},{pq_lut_sql(PQ_FINAL, N_QUERY)}"
)

PQ_ORACLE = f"""
WITH {PQ_CODEBOOK_SQL},{PQ_SCAN_SQL},
{ADC_SCORED_SQL}
{adc_topk_sql(TOP_K)}"""


def _ann_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture embeddings as ``ann.py``'s quantized (id, qvec)
    frame, checkpointed once: it feeds every Lloyd round and the encode
    passes, which would otherwise each re-scan and re-quantize the
    source."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"),
        _quantize(F.col("embedding"), MICRO).alias("qvec"),
    ).localCheckpoint()


@register(
    "similarity_ann_pq_adc",
    oracle=PQ_ORACLE,
    tags=("similarity", "ann", "pq", "quantization"),
)
def similarity_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC scoring (Jégou et al. 2011) —
    the COMPRESSION leg of a 100 TB vector store: each 64-dim float
    vector is stored as PQ_M=32 one-byte codes (8× smaller than
    float32), and a query scans codes, not vectors. Per-block codebooks
    (PQ_K=256 codes — 8-bit, the industry standard; chosen from the
    measured recall grid above) are trained by integer-exact Lloyd rounds
    (the IVF recipe with the block id as an extra key); ADC sums each
    query's precomputed exact block-distance LUT over a neighbor's
    codes. LUT is (queries × PQ_M × PQ_K) rows broadcast; the scan
    is a code-table equi-join + sum — at scale this composes with IVF
    (restrict the scan to probed cells) without changing shape. Every
    distance is an exact integer sum, so codebooks, codes, LUT, and
    ADC totals are all bit-identical to the DuckDB oracle."""
    n = _ann_corpus(spark, sf_dir)
    codebook, codes, _, _ = _train(
        n,
        dims=_EMB_DIMS,
        pq_m=PQ_M,
        pq_iters=PQ_ITERS,
        pq_seeds=n.where(F.col("id") < PQ_K).select("id"),
    )
    return _adc_topk(
        n.where(F.col("id") < N_QUERY),
        codebook,
        codes,
        None,
        None,
        pq_m=PQ_M,
        pq_dsub=PQ_DSUB,
        pq_k=PQ_K,
        k=TOP_K,
    )


#: IVF coarse quantizer CTEs (q/c*/af) + PQ codebook CTEs
#: (pq/pc*/codes/lut), then ADC scoring restricted to the query's IVF
#: cell — both trainings unrolled exactly as in their standalone
#: oracles.
IVFPQ_ORACLE = f"""
WITH {IVF_CELLS_SQL},
{PQ_CODEBOOK_SQL},{PQ_SCAN_SQL},
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
  FROM codes c
  JOIN lut l ON c.b = l.b AND c.cid = l.cid
  JOIN af an ON an.vec_id = c.vec_id
  JOIN af aq ON aq.vec_id = l.query_id AND aq.cid = an.cid
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
)
{adc_topk_sql(TOP_K)}"""


@register(
    "similarity_ann_ivfpq",
    oracle=IVFPQ_ORACLE,
    tags=("similarity", "ann", "ivf", "pq"),
)
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN stack — IVF × PQ composed (FAISS's IVFPQ
    index): the IVF coarse quantizer restricts each query to its own
    cell (~corpus/k candidates), and PQ's ADC scores only those
    candidates from 1-byte codes instead of raw vectors. The two
    prunings multiply: scan cost drops by the cell factor AND each
    candidate costs a LUT lookup-sum instead of a 64-dim dot product,
    which is why a billion-vector store fits and answers. Spark shape:
    ``ann._train`` trains both quantizers in one grouped Lloyd call
    (each round's single corpus pass serves the IVF block and every PQ
    block — raw codebooks share no state) and ``ann._adc_topk`` scans
    codes ⋈ broadcast LUT with the probed-cell equi-join as the
    candidate filter. Everything is exact integer arithmetic end to end, so the
    composed pipeline stays bit-identical to the oracle's
    doubly-unrolled derivation."""
    n = _ann_corpus(spark, sf_dir)
    codebook, codes, ivf_cent, cells = _train(
        n,
        dims=_EMB_DIMS,
        pq_m=PQ_M,
        pq_iters=PQ_ITERS,
        pq_seeds=n.where(F.col("id") < PQ_K).select("id"),
        cell_seeds=n.where(F.col("id") % CENT_MOD == 0).select("id"),
        kmeans_iters=KMEANS_ITERS,
    )
    # nprobe=1: a query's nearest cell is, by construction, the cell the
    # trainer assigned it (same argmin over the same final centroids,
    # same smallest-cell tie-break), so this is the oracle's "scan the
    # query's own cell".
    return _adc_topk(
        n.where(F.col("id") < N_QUERY),
        codebook,
        codes,
        ivf_cent,
        cells,
        pq_m=PQ_M,
        pq_dsub=PQ_DSUB,
        pq_k=PQ_K,
        k=TOP_K,
        nprobe=1,
    )


@register(
    "embedding_dim_stats",
    oracle=f"""
WITH x AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
  FROM embeddings
),
q AS (
  SELECT dim, v, CAST(round(v * {MICRO}, 0) AS BIGINT) AS qx FROM x
)
SELECT dim,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(qx AS HUGEINT)) AS DOUBLE) / COUNT(*) AS mean_micro,
       (COUNT(*) * CAST(SUM(CAST(qx * qx AS HUGEINT)) AS DOUBLE)
        - CAST(SUM(CAST(qx AS HUGEINT)) AS DOUBLE)
          * CAST(SUM(CAST(qx AS HUGEINT)) AS DOUBLE))
       / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)) AS var_micro2,
       MIN(v) AS min_val,
       MAX(v) AS max_val
FROM q
GROUP BY dim
ORDER BY dim
""",
    tags=("embedding", "profiling", "qc"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QC: mean/variance/min/max for each of
    the 64 coordinates — the check that catches dead dimensions
    (var≈0), un-normalized batches (means far from 0), and clipped
    values before they poison an ANN index or a cosine threshold.
    Means/variances come from exact micro-unit integer sums (the
    module's standard recipe — float sums would be partition-order
    dependent), expanded by the same closed moment formula in both
    engines; min/max are order-free on the raw floats. The explode is
    map-side (64 rows per vector feeding a partial agg in the same
    stage); the shuffle carries 64 groups × 4 numbers per task
    regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(
            F.transform("embedding", lambda v: v.cast("double"))
        ).alias("dim", "v")
    ).select(
        "dim",
        "v",
        F.round(F.col("v") * MICRO, 0).cast("long").alias("qx"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    st = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(d38(F.col("qx"))).cast("double").alias("sx"),
        F.sum(d38(F.col("qx") * F.col("qx"))).cast("double").alias("sxx"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
    n = F.col("n_vecs")
    return st.select(
        "dim",
        "n_vecs",
        (F.col("sx") / n).alias("mean_micro"),
        (
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            / (n.cast("double") * n)
        ).alias("var_micro2"),
        "min_val",
        "max_val",
    ).orderBy("dim")


HARD_NEG_QUERIES = 10  # anchors (vec_id < this)
_HARD_NEG_COLS = """query_id, query_label, neighbor_id, neighbor_label, cosine,
       CAST(rk AS INT) AS rk"""


@register(
    "pairs_hard_negatives",
    oracle=f"""
{normed_sql(wrap=True)},
scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {cosine_sql("q", "c", 9, 3)} AS cosine
  FROM n q JOIN n c ON c.vec_id <> q.vec_id AND c.label <> q.label
  WHERE q.vec_id < {HARD_NEG_QUERIES}
)
{topk_sql(_HARD_NEG_COLS, TOP_K)}""",
    tags=("similarity", "hard-negatives", "contrastive", "training-pairs"),
)
def pairs_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k most-SIMILAR vectors with a DIFFERENT label — the pairs
    that actually move an embedding model (random negatives are
    trivially separable; training signal lives in the near-but-wrong
    region), and the standard companion to pairs_negative_sampling's
    uniform negatives. Same IEEE-double cosine discipline as
    similarity_cosine_topk (per-pair fixed tree, bit-equal both
    engines); the label-mismatch filter applies BEFORE ranking, so the
    k slots are all hard negatives, not whatever survives a post-hoc
    filter of a plain top-k.

    Scale: anchors broadcast against the corpus scan (one pass);
    ranking via functions/topk.py, whose partial group limit keeps k
    rows per anchor per map task before the window's Exchange. For corpus-scale anchor sets,
    swap the brute-force scan for the IVF-bucketed path
    (ann_search + label filter) exactly as similarity_cosine_topk
    documents; the mining semantics are unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = normed(emb, ["vec_id", "label"])
    q = v.where(F.col("vec_id") < HARD_NEG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cosine("qe", "e", "qnrm", "nrm", _EMB_DIMS).alias("cosine"),
        )
    )
    return rank_by_cosine(scored, TOP_K, ordered=False).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        "cosine",
        F.col("rk").cast("int").alias("rk"),
    ).orderBy("query_id", "rk")


TUNE_LADDER = (1, 2, 4)  # nprobe ladder the auto-tuner sweeps
TUNE_TARGET_PCT = 90  # pick the smallest nprobe with recall >= 90%


def _nprobe_autotune_oracle() -> str:
    """DuckDB twin of the nprobe recall sweep: the IVF_NPROBE building
    blocks (seed centroids, crk-ranked probes), one exact brute-force
    truth CTE, and one hits CTE per ladder rung."""
    dot_sql = cosine_sql("q", "c")
    rungs = ",\n".join(
        f"""h{p} AS (
  SELECT {p} AS nprobe, CAST(COUNT(*) AS BIGINT) AS hits
  FROM (
    SELECT query_id, neighbor_id,
           {cosine_rank_sql(11)}
    FROM scored WHERE probe_rk <= {p}
  ) t JOIN truth USING (query_id, neighbor_id)
  WHERE t.rk <= {TOP_K}
)"""
        for p in TUNE_LADDER
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT nprobe, hits FROM h{p}" for p in TUNE_LADDER
    )
    return f"""
{normed_sql("vec_id")},
cent AS (
  SELECT vec_id AS centroid_id, e AS ce, nrm AS cnrm FROM n
  WHERE vec_id % {CENT_MOD} = 0
),
pairs AS MATERIALIZED (
  -- 3 narrow columns ONLY: carrying the 64-double arrays through the
  -- corpus x centroids fan-out is what made the naive form spill past
  -- 24 GiB at the x30 replica; arrays re-join by id afterwards.
  SELECT n.vec_id, cent.centroid_id,
         {cosine_sql("n", "cent", 9, 3, "ce", "cnrm")} AS ccos
  FROM n CROSS JOIN cent
),
ranked AS MATERIALIZED (
  SELECT vec_id, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, centroid_id) AS crk
  FROM pairs
),
assigned AS (
  SELECT r.vec_id, n.e, n.nrm, r.centroid_id
  FROM ranked r JOIN n ON n.vec_id = r.vec_id WHERE r.crk = 1
),
probes AS (
  SELECT r.vec_id, n.e, n.nrm, r.centroid_id, r.crk AS probe_rk
  FROM ranked r JOIN n ON n.vec_id = r.vec_id
  WHERE r.crk <= {max(TUNE_LADDER)} AND r.vec_id < {N_QUERY}
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.probe_rk,
         {dot_sql} AS cosine
  FROM probes q JOIN assigned c
    ON q.centroid_id = c.centroid_id AND c.vec_id <> q.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {dot_sql} DESC, c.vec_id) AS rk
    FROM n q JOIN n c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERY}
  ) t WHERE rk <= {TOP_K}
),
poss AS (SELECT CAST(COUNT(*) AS BIGINT) AS possible FROM truth),
{rungs},
curve AS (
  SELECT nprobe, hits, possible,
         CAST(hits AS DOUBLE) / possible AS recall
  FROM ({unions}) u CROSS JOIN poss
)
SELECT CAST(nprobe AS BIGINT) AS nprobe, hits, possible, recall,
       CAST(CASE WHEN nprobe = COALESCE(
              MIN(CASE WHEN hits * 100 >= {TUNE_TARGET_PCT} * possible
                       THEN nprobe END) OVER (),
              {max(TUNE_LADDER)})
            THEN 1 ELSE 0 END AS BIGINT) AS chosen
FROM curve
ORDER BY nprobe
"""


@register(
    "similarity_ann_nprobe_autotune",
    oracle=_nprobe_autotune_oracle(),
    tags=("similarity", "ivf", "ann", "nprobe", "autotune", "recall"),
)
def similarity_ann_nprobe_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe auto-tuner (r11 verdict #7): sweep the nprobe ladder
    (1, 2, 4), measure recall@{TOP_K} of each rung against the EXACT
    brute-force top-k, and flag the smallest nprobe whose measured
    recall clears the {TUNE_TARGET_PCT}% target — the knob-picking run
    an ANN deployment does once per corpus instead of guessing. The
    decision is integer-exact (hits·100 ≥ target·possible), so the
    chosen rung is bit-reproducible.

    Plan economics: the candidate table is scored ONCE at the ladder
    maximum with each candidate tagged by its cell's probe rank
    (corpus cell assignment is unique, so (query, neighbor) appears
    exactly once); every rung is then a FILTER + top-k over
    that one table — the sweep costs one IVF search at max(nprobe)
    plus ladder-many grid-sized reductions, not ladder-many searches.
    Ground truth is the exact top-k for the {N_QUERY}-query probe set
    only — brute force priced per QUERY, never corpus².

    The trained-index twin is ``ann.tune_nprobe`` (same sweep against
    a persisted ``build_ann_index`` artifact, zero training in the
    plan); this registry entry pins the semantics on the SQL-
    expressible seed-centroid IVF so the oracle can replicate every
    rung."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = normed(emb, ["vec_id", "label"])
    cent, assigned = _seed_cells(n)
    queries = n.where(F.col("vec_id") < N_QUERY)
    probes = _probes(queries, cent, max(TUNE_LADDER), "probe_rk", "probe_rk")
    scored = scored_pairs(
        assigned,
        probes,
        F.col("centroid_id") == F.col("qcent"),
        "probe_rk",
        dims=_EMB_DIMS,
    )
    truth = rank_by_cosine(
        queries.alias("q")
        .crossJoin(n.alias("c"))
        .where(F.col("c.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            cosine("q.e", "c.e", "q.nrm", "c.nrm", _EMB_DIMS).alias("cosine"),
        ),
        TOP_K,
        ordered=False,
    ).select("query_id", "neighbor_id")
    possible = truth.agg(F.count(F.lit(1)).cast("long").alias("possible"))
    rungs = None
    for p in TUNE_LADDER:
        topp = rank_by_cosine(
            scored.where(F.col("probe_rk") <= p), TOP_K, ordered=False
        ).select("query_id", "neighbor_id")
        h = (
            topp.join(truth, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .select(F.lit(p).cast("long").alias("nprobe"), "hits")
        )
        rungs = h if rungs is None else rungs.unionAll(h)
    curve = rungs.crossJoin(F.broadcast(possible)).select(
        "nprobe",
        "hits",
        "possible",
        (F.col("hits").cast("double") / F.col("possible")).alias("recall"),
    )
    w_all = Window.partitionBy()
    chosen_np = F.coalesce(
        F.min(
            F.when(
                F.col("hits") * 100 >= TUNE_TARGET_PCT * F.col("possible"),
                F.col("nprobe"),
            )
        ).over(w_all),
        F.lit(max(TUNE_LADDER)).cast("long"),
    )
    return (
        curve.select(
            "nprobe",
            "hits",
            "possible",
            "recall",
            F.when(F.col("nprobe") == chosen_np, 1)
            .otherwise(0)
            .cast("long")
            .alias("chosen"),
        )
        .orderBy("nprobe")
    )
