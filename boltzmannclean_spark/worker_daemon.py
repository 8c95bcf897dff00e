"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar first on ``PYTHONPATH``. Each
task then runs PySpark's ``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; under CPython 3.11 that makes every
cached ``zipimporter`` (one per archive, plus one per package imported
from it — about 16 once ``pyspark.worker`` is loaded from the zip)
re-read its archive's whole directory. That is most of a Python task's
fixed cost.

This module takes those archives off ``sys.path`` before PySpark is
imported and then runs ``pyspark.daemon.manager()``, so the daemon and
the workers it forks import PySpark and py4j from the interpreter's own
installation. An archive that holds no Python module (the spark-core
jar) is always dropped. The PySpark and py4j archives are dropped only
when the interpreter's own copies carry the same ``__version__`` (read
once, here, from each archive's ``version.py``); when one differs or is
not installed, ``sys.path`` is left exactly as Spark set it.

Run as ``python -m boltzmannclean_spark.worker_daemon pyspark.worker``
(Spark adds the worker module argument itself).
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

#: Packages Spark ships as archives next to its own Python code.
BUNDLED = ("pyspark", "py4j")

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_packages(entry: str) -> dict[str, str | None] | None:
    """Top-level modules a zip archive on ``sys.path`` provides, the
    bundled ones with the ``__version__`` of their ``version.py`` (None
    without one); None when ``entry`` is not a zip archive."""
    if not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as zf:
            names = set(zf.namelist())
            tops = {n.split("/", 1)[0].split(".", 1)[0]
                    for n in names if n.endswith((".py", ".pyc"))}
            return {
                top: _version(zf.read(f"{top}/version.py").decode())
                if top in BUNDLED and f"{top}/version.py" in names else None
                for top in tops
            }
    except zipfile.BadZipFile:
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    """``__version__`` of ``package`` as found on ``path``, read from its
    ``version.py`` without importing it."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as fh:
            return _version(fh.read())
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's bundled archives, or an unchanged copy
    when the interpreter's own PySpark or py4j differs from the archived
    one (or is missing)."""
    archives = {e: pkgs for e in path if (pkgs := _archive_packages(e)) is not None}
    plain = [e for e in path if e not in archives]
    drop = set()
    for entry, pkgs in archives.items():
        if not set(pkgs) <= set(BUNDLED):
            continue  # someone else's archive: keep it
        for pkg, version in pkgs.items():
            if version is None or version != _installed_version(pkg, plain):
                return list(path)
        drop.add(entry)
    return [e for e in path if e not in drop]


def main() -> None:
    # Only a daemon that has not imported PySpark yet can switch copies.
    kept = sys.path if set(BUNDLED) & set(sys.modules) else worker_path(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
