#!/usr/bin/env python
"""Print one `name bench sha256(oracle)` line per registered query.

Lines come in registry order. A query with no
oracle prints `-` in place of the hash. Importing the plan inventory
starts no Spark session, so the dump takes about a second:

    python tools/oracle_dump.py > after.txt

Diffing two dumps shows every query whose oracle SQL, bench flag or
registry position moved between two trees.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from goflow2clickhouse_spark.plans import registry  # noqa: E402


def main() -> None:
    for name, spec in registry().items():
        digest = (
            "-" if spec.oracle is None
            else hashlib.sha256(spec.oracle.encode()).hexdigest()
        )
        print(name, int(spec.bench), digest)


if __name__ == "__main__":
    main()
