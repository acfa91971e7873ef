#!/usr/bin/env python
"""Pre-driver consistency gate — run before every round hand-off.

Checks the invariants the driver grades on but nothing else enforces:

1. every oracle_sql key names a registered query;
2. the FIRST 50 registry entries (the driver's hash window) are ALL
   oracle-checked — a rows-only query in the window is recorded as a
   no_oracle FAILURE by the driver (the round-3 lesson: 5 burned slots);
3. QUERIES.md is regenerated (count line matches the dict).

Exit code 0 = safe to hand off.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pulseboard_spark.registry import ORACLE_SQL, QUERIES  # noqa: E402


def main() -> int:
    bad = 0

    orphans = sorted(set(ORACLE_SQL) - set(QUERIES))
    if orphans:
        print(f"FAIL: oracle entries without a query: {orphans}")
        bad += 1

    front = list(QUERIES)[:50]
    rows_only_in_window = [n for n in front if n not in ORACLE_SQL]
    if rows_only_in_window:
        print(
            "FAIL: rows-only queries inside the driver's front-50 hash "
            f"window (each is a guaranteed no_oracle failure): {rows_only_in_window}"
        )
        bad += 1

    md = (ROOT / "QUERIES.md").read_text()
    m = re.search(r"(\d+) queries", md)
    if not m or int(m.group(1)) != len(QUERIES):
        print(
            f"FAIL: QUERIES.md is stale ({m.group(1) if m else '?'} vs "
            f"{len(QUERIES)} in the registry) — run tools/gen_queries_md.py"
        )
        bad += 1

    print(
        f"registry: {len(QUERIES)} queries, {len(set(QUERIES) & set(ORACLE_SQL))} "
        f"oracle-checked; front-50 all oracle-checked: {not rows_only_in_window}"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
