"""The engine's Python worker daemon and the package import it relies on.

``session.get_spark`` runs Python workers through
``boltzmannclean_spark.worker_daemon``, which takes Spark's bundled
archives off the workers' ``sys.path`` when the interpreter has the same
PySpark and py4j, so the per-task ``importlib.invalidate_caches()`` has
no zip importer to re-read. The daemon runs inside the package, so
importing the package must not import PySpark; and the workers find the
package through the session, wherever the driver runs from.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyspark
import py4j

from boltzmannclean_spark.worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
SPARK_LIB = os.path.join(SPARK_HOME, "python", "lib")

#: Every name the package ``__init__`` re-exported eagerly before its
#: re-exports became lazy.
REEXPORTS = (
    "ann_search", "apriori_triples", "bm25_topk", "build_ann_index",
    "cosine_topk", "exact_dedup", "grid_knn_join", "hampel_filter",
    "holt_smooth", "ks_two_sample", "language_id", "mann_whitney_u",
    "minhash_dedup", "permutation_test", "perplexity_buckets", "psi_drift",
    "quality_filter", "semantic_dedup", "sessionize", "sprt_monitor",
    "substring_dedup", "token_stats", "welch_ttest", "sharded_prefix_sum",
    "topk_per_key",
)


def _clean_env(**extra) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(extra)
    return env


def _archive(path, package: str, version: str | None) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{package}/__init__.py", "")
        if version is not None:
            zf.writestr(f"{package}/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _fake_spark_archives(tmp_path, pyspark_version: str) -> list[str]:
    jar = tmp_path / "spark-core.jar"
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
    return [
        _archive(tmp_path / "pyspark.zip", "pyspark", pyspark_version),
        _archive(tmp_path / "py4j-src.zip", "py4j", py4j.__version__),
        str(jar),
    ]


def test_worker_path_drops_archives_matching_the_installed_versions(tmp_path):
    archives = _fake_spark_archives(tmp_path, pyspark.__version__)
    path = [sys.path[0], *archives, *sys.path[1:]]
    assert worker_path(path) == [sys.path[0], *sys.path[1:]]


def test_worker_path_keeps_a_mismatched_pyspark(tmp_path):
    archives = _fake_spark_archives(tmp_path, "0.0.1")
    path = [*archives, *sys.path]
    assert worker_path(path) == path


def test_worker_path_keeps_archives_without_an_installed_pyspark(tmp_path):
    archives = _fake_spark_archives(tmp_path, pyspark.__version__)
    path = [*archives, *(p for p in sys.path if "-packages" not in p)]
    assert worker_path(path) == path


def test_worker_path_keeps_other_archives(tmp_path):
    own = _archive(tmp_path / "mylib.zip", "mylib", "1.0")
    path = [own, *sys.path]
    assert worker_path(path) == path


def _installed_matches_spark_zip() -> bool:
    archive = os.path.join(SPARK_LIB, "pyspark.zip")
    if not os.path.isfile(archive):
        return False
    with zipfile.ZipFile(archive) as zf:
        text = zf.read("pyspark/version.py").decode()
    return f"'{pyspark.__version__}'" in text or f'"{pyspark.__version__}"' in text


def _is_spark_archive(key: str) -> bool:
    return "pyspark.zip" in key or "py4j-" in key or ".jar" in key


def test_workers_import_the_installed_pyspark(spark):
    from tools.python_task_floor import worker_report

    info = worker_report(spark)
    if _installed_matches_spark_zip():
        assert ".zip" not in info["pyspark_file"], info
        assert not [k for k in info["zip_importers"] if _is_spark_archive(k)], info
    else:
        assert "pyspark.zip" in info["pyspark_file"], info


def test_package_import_loads_no_pyspark():
    names = ",".join(repr(n) for n in REEXPORTS)
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "import boltzmannclean_spark as bcs\n"
        "assert 'pyspark' not in sys.modules, 'pyspark imported by the package'\n"
        f"missing = [n for n in ({names},) if not callable(getattr(bcs, n, None))]\n"
        "assert not missing, missing\n"
        "assert callable(bcs.clean) and bcs.__version__\n"
        "print('ok')\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=_clean_env(), timeout=300)
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr[-2000:]


def test_udf_query_runs_from_another_cwd(tmp_path, sf_dir):
    """Workers import the engine through the session's executor path,
    so a module-level ``mapInPandas`` function resolves when the driver
    puts the repo on ``sys.path`` but runs from elsewhere."""
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from boltzmannclean_spark.plans.registry import all_queries\n"
        "from boltzmannclean_spark.session import get_spark\n"
        "spark = get_spark('cwd-probe')\n"
        f"rows = all_queries()['multimodal_features'].spark_fn(spark, {sf_dir!r}).collect()\n"
        "print('rows', len(rows))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True,
        env=_clean_env(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g"), timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) > 0, out.stdout
