"""Raw-vs-residual PQ recall measurement (r13 verdict #4).

Builds the fixture-config IVFPQ index (dims=64, 32 blocks x 256 codes,
2 Lloyd rounds, IVF seeds = every CENT_MOD-th id, 4 k-means rounds)
TWICE over the given corpus — once with raw-coordinate PQ codebooks,
once with residual (IVF-centered) codebooks — and measures, for each:

- the tune_nprobe recall curve (the engine's real autotune API,
  ladder 1..32, 50-probe sample, recall@10 vs exact cosine truth);
- the full-scan (no-nprobe) ADC recall ceiling over the same probes.

Intended corpus: tools/clustered_embeddings.py output (a realistic
Zipf-sized-cluster shape) next to the near-isotropic fixture, so the
index default (raw vs residual) is chosen from measured curves on
BOTH shapes — SCALING.md r14 records the table. Recall counts are
deterministic integers (exact micro-unit arithmetic end-to-end), so
this is safe to run on a noisy host: nothing here is a timing.

Usage: python tools/residual_recall_eval.py [corpus_dir] [--cells-mod M]
Default corpus: /tmp/bcs_scale/clustered_x10, CENT_MOD=100 (matches
the fixture lifecycle's cell seeding — corpus_n/M IVF cells).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)  # Spark python workers resolve the package via cwd

from pyspark.sql import functions as F  # noqa: E402

from boltzmannclean_spark.ann import (  # noqa: E402
    ann_search,
    build_ann_index,
    tune_nprobe,
)
from boltzmannclean_spark.operators.similarity import (  # noqa: E402
    CENT_MOD,
    KMEANS_ITERS,
    PQ_ITERS,
    PQ_K,
    PQ_M,
    TOP_K,
)
from boltzmannclean_spark.session import get_spark  # noqa: E402

LADDER = (1, 2, 4, 8, 16, 32)
N_PROBES = 50


def main() -> int:
    argv = list(sys.argv[1:])
    cent_mod = CENT_MOD
    if "--cells-mod" in argv:
        i = argv.index("--cells-mod")
        cent_mod = int(argv[i + 1])
        del argv[i : i + 2]
    corpus_dir = argv[0] if argv else "/tmp/bcs_scale/clustered_x10"
    spark = get_spark("residual-recall-eval")
    emb = spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
    n = emb.count()
    print(f"corpus {corpus_dir}: {n} vectors, {n // cent_mod} IVF cells")

    results = {}
    work = tempfile.mkdtemp(prefix="residual_eval_")
    try:
        for variant in ("raw", "residual"):
            idx = os.path.join(work, variant)
            build_ann_index(
                emb,
                idx,
                dims=64,
                id_col="vec_id",
                vec_col="embedding",
                pq_m=PQ_M,
                pq_k=PQ_K,
                pq_iters=PQ_ITERS,
                kmeans_iters=KMEANS_ITERS,
                cell_seed_pred=F.col("vec_id") % cent_mod == 0,
                residual=(variant == "residual"),
            )
            chosen, curve = tune_nprobe(
                spark,
                idx,
                emb,
                k=TOP_K,
                target_recall=0.9,
                ladder=LADDER,
                n_queries=N_PROBES,
            )
            rows = [
                (r.nprobe, r.hits, r.possible, r.recall)
                for r in curve.orderBy("nprobe").collect()
            ]
            # full-scan ADC ceiling over the same probe set: recall is
            # bounded by PQ quantization alone (no IVF pruning loss)
            probes = emb.orderBy("vec_id").limit(N_PROBES)
            adc = ann_search(
                spark, idx, probes, k=TOP_K, exclude_self=True
            ).select("query_id", "neighbor_id")
            # exact truth = the tune_nprobe truth definition (cosine);
            # recompute identically for the ceiling measurement
            from boltzmannclean_spark.functions.vectors import (
                cosine,
                normed,
                rank_by_cosine,
            )

            qn = normed(probes, [F.col("vec_id").alias("qid")], e="qe", nrm="qnrm")
            cn = normed(emb, [F.col("vec_id").alias("cid")], e="ce", nrm="cnrm")
            truth = rank_by_cosine(
                qn.crossJoin(cn)
                .where(F.col("cid") != F.col("qid"))
                .select(
                    F.col("qid").alias("query_id"),
                    F.col("cid").alias("neighbor_id"),
                    cosine("qe", "ce", "qnrm", "cnrm").alias("cosine"),
                ),
                TOP_K,
                ordered=False,
            ).select("query_id", "neighbor_id")
            hits = truth.join(adc, ["query_id", "neighbor_id"]).count()
            possible = truth.count()
            ceiling = hits / possible if possible else 0.0
            results[variant] = {
                "chosen_nprobe": chosen,
                "curve": rows,
                "fullscan_recall": ceiling,
                "fullscan_hits": hits,
                "possible": possible,
            }
            print(f"\n== {variant} ==")
            print("nprobe  hits/possible  recall")
            for np_, h, p, r in rows:
                print(f"{np_:>6}  {h:>4}/{p:<8}  {r:.4f}")
            print(
                f"full-scan ceiling: {hits}/{possible} = {ceiling:.4f}; "
                f"chosen nprobe (target 0.9): {chosen}"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n" + json.dumps({"corpus": corpus_dir, "n": n, **results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
