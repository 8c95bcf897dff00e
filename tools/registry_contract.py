"""Print one sha256 over the engine's driver-facing contract.

The digest covers:

  1. ``{name: oracle SQL}`` for every registered query;
  2. the first 50 names in registry order (the slice an external
     correctness harness samples);
  3. the signature of every public function in ``pipeline.py`` and
     ``ann.py``.

A refactor below the registry must leave the digest unchanged: run this
script on both commits and compare. No Spark session is started (the
operator modules only build SQL strings at import).

Usage: python tools/registry_contract.py [--dump]
  --dump  also print the JSON the digest is taken over
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _public_signatures(mod) -> dict[str, str]:
    return {
        name: str(inspect.signature(obj))
        for name, obj in sorted(vars(mod).items())
        if inspect.isfunction(obj)
        and obj.__module__ == mod.__name__
        and not name.startswith("_")
    }


def contract() -> dict:
    from boltzmannclean_spark import ann, pipeline
    from boltzmannclean_spark.plans.registry import all_queries

    queries = all_queries()
    return {
        "oracles": {name: q.oracle for name, q in sorted(queries.items())},
        "first50": list(queries)[:50],
        "signatures": {
            "ann": _public_signatures(ann),
            "pipeline": _public_signatures(pipeline),
        },
    }


def digest(blob: str) -> str:
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def main() -> None:
    blob = json.dumps(contract(), sort_keys=True, ensure_ascii=False)
    if "--dump" in sys.argv[1:]:
        print(blob)
    print(digest(blob))


if __name__ == "__main__":
    main()
