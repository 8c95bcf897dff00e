"""The driver-facing contract digest is pinned.

``tools/registry_contract.py`` hashes every registered query's oracle
SQL, the first 50 registry names and the public ``pipeline.py`` /
``ann.py`` signatures. Oracle strings composed from shared fragments
must stay byte-identical, so a refactor below the registry leaves this
digest unchanged. The pin moves only together with a CHANGES.md entry
naming the contract change. No Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import registry_contract  # noqa: E402

PINNED = "ad431ff75cee0e5ebca2a389c4d46b8270b6d6db808175609cf18e974abe3fd9"


def test_contract_digest_is_pinned():
    blob = json.dumps(registry_contract.contract(), sort_keys=True, ensure_ascii=False)
    assert registry_contract.digest(blob) == PINNED
