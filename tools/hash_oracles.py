"""Fingerprint the registered oracles and size the package.

A refactor that must not change any query's result can prove that its
oracle strings did not move: this prints the oracle name count, the
sha256 of the sorted names, the sha256 of the name -> oracle-sha256 map,
and the non-blank, non-comment line count of every ``.py`` file under
``spark_sql_custom_mq_datasource_spark/``. Run it on two commits and
compare; only the line count should differ. Run from anywhere:

    python tools/hash_oracles.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "spark_sql_custom_mq_datasource_spark")
sys.path.insert(0, ROOT)


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def package_lines() -> int:
    """Lines under the package that are neither blank nor a ``#`` comment."""
    n = 0
    for dirpath, dirnames, filenames in os.walk(PACKAGE):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                    n += sum(
                        1
                        for line in f
                        if line.strip() and not line.strip().startswith("#")
                    )
    return n


def main() -> None:
    from spark_sql_custom_mq_datasource_spark.plans.registry import get_oracles

    oracles = get_oracles()
    names = sorted(oracles)
    digests = {name: _sha256(oracles[name]) for name in names}
    names_digest = _sha256("\n".join(names))
    print(f"oracles: {len(names)}")
    print(f"names sha256: {names_digest}")
    print(f"map sha256: {_sha256(json.dumps(digests, sort_keys=True))}")
    print(f"package lines: {package_lines()}")


if __name__ == "__main__":
    main()
