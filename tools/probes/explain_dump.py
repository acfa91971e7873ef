#!/usr/bin/env python
"""Dump .explain("formatted") for registry queries to plans/<query>_<tag>.txt.

Usage: python tools/probes/explain_dump.py <tag> <query> [query ...]
  tag: "before" / "after" (file suffix)
  query: registry query names (at least one).

plans/ is git-ignored: dumps are on-demand evidence, not tracked files.
Plans are captured WITHOUT executing (explain only), on a get_spark
session with the silver caches cold.  AQE shows the initial plan
(isFinalPlan=false); Exchange counts / join strategies / PushedFilters are
all visible there, which is what the optimization evidence needs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

from pulseboard_spark.registry import QUERIES  # noqa: E402
from pulseboard_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    tag, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "plans")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("pulseboard-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure, keep dumping the rest
            plan = f"EXPLAIN FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"# {name}: {plan.count('Exchange')} Exchange", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
