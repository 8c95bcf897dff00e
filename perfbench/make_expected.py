"""Regenerate ``expected.json``, the fingerprints the benchmark checks
every output against.

    python3 perfbench/make_expected.py

Run from the repository root, at a commit whose outputs are known good,
and only when the tables under ``perfbench/data`` or the workloads'
operations change. For each operation:

- registry entries with an oracle: the Spark output must match the
  DuckDB oracle over the same tables (``tests/oracle_utils.py``); the
  fingerprint is then recorded ("duckdb-oracle");
- registry entries without one (the RBM imputers): row count and schema
  of the current run ("head-run");
- ``ann_search``: one call with every corpus vector as a query, hashed
  query by query ("head-run"); its recall against exact neighbours is
  printed as a sanity check.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> None:
    run.configure_env()
    import workloads as W

    spark, registry, _ = run.setup("curation")
    out = {f"{sf:g}": pin(spark, registry, run.table_dir(sf)) for sf in (run.SF, run.WARM_SF)}
    run.shutdown(spark)
    with open(W.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


def pin(spark, registry, data: str) -> dict:
    """Fingerprints of every operation over the tables in ``data``."""
    import numpy as np

    from tests.oracle_utils import assert_matches_oracle, canonical_rows

    import workloads as W
    from boltzmannclean_spark import ann
    from boltzmannclean_spark.sources.catalog import load_table

    print(f"-- {data}", flush=True)
    expected: dict = {}
    for wl in W.workloads().values():
        for op in wl.ops:
            if op.name not in registry:
                continue
            q = registry[op.name]
            df = q.spark_fn(spark, data)
            pdf = df.toPandas()
            fp = {"rows": len(pdf), "schema": W.schema_of(df)}
            if q.oracle is None:  # the stochastic RBM imputers
                fp["source"] = "head-run"
            else:
                assert_matches_oracle(df, q.oracle, data, op.name)
                fp["hash"] = W.value_hash(pdf)
                full = hashlib.sha256(repr(canonical_rows(pdf, op.name)).encode())
                assert full.hexdigest()[:32] == fp["hash"], op.name
                fp["source"] = "duckdb-oracle"
            expected[op.name] = fp
            print(f"{op.name}: {fp['rows']} rows, {fp['source']}", flush=True)

    emb = load_table(spark, data, "embeddings")
    vecs = np.array(emb.orderBy("vec_id").toPandas()["embedding"].tolist(), dtype=np.float64)
    n = len(vecs)

    with tempfile.TemporaryDirectory(dir=os.environ["TMPDIR"]) as tmp:
        out = os.path.join(tmp, "index")
        ann.build_ann_index(emb, out, **W.ANN_BUILD)
        res = ann.ann_search(spark, out, emb, k=W.ANN_K, nprobe=W.ANN_NPROBE)
        pdf = res.toPandas()
        expected["ann_search"] = {"schema": W.schema_of(res), "source": "head-run",
                                  "per_query": W.per_query_hashes(pdf)}
    expected["ann_build_index"] = {"rows": n, "source": "head-run"}
    d2 = ((vecs[:, None, :] - vecs[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.inf)
    truth = np.argsort(d2, axis=1, kind="stable")[:, : W.ANN_K]
    hits = pdf.groupby("query_id")["neighbor_id"].apply(set)
    recall = np.mean([len(hits[q] & set(truth[q].tolist())) / W.ANN_K for q in range(n)])
    print(f"ann_search: {n} queries, recall@{W.ANN_K} {recall:.3f}", flush=True)

    return expected


if __name__ == "__main__":
    main()
