#!/usr/bin/env python3
"""Regenerate the benchmark's expected outputs (run from the repository
root; needs only the files under perfbench/data):

    python3 perfbench/make_expected.py

- ``expected/events_batch.json``: for each ``events_batch`` query, the
  digest of its DuckDB-oracle result (``registry.ORACLE_SQL``) at sf0.1, in
  the canonical image the oracle comparison uses.  The live oracle takes
  minutes, so runs compare against these digests instead.
- ``expected/alerts_stream.json``: the batch twin's R1/R2/R4 alerts on the
  stream's replay (entity silver plus the firing fixture): the R1/R2/R4 rows
  of the ``alerts`` and ``rule_firing_alerts`` queries.  Rules are per
  (entity, type) and the fixture's entities are its own, so the union of
  the two equals the rules over the merged replay.

Run it again only when the input corpus or a query's definition changes.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
OUT = os.path.join(HERE, "expected")


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    import batch
    import harness
    from pulseboard_spark import registry
    from pulseboard_spark.session import get_spark

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{DATA}/events.parquet')")
    digests = {}
    for q in batch.QUERIES:
        digests[q] = harness.frame_digest(con.execute(registry.ORACLE_SQL[q]).fetchdf())
        print(f"oracle {q}: {digests[q]['rows']} rows", file=sys.stderr)
    harness.write_json(os.path.join(OUT, "events_batch.json"), {
        "source": "DuckDB oracle (registry.ORACLE_SQL) over data/sf0.1/events.parquet",
        "digests": digests,
    })

    spark = get_spark("perfbench-expected", cpus=len(os.sched_getaffinity(0)))
    try:
        alerts = []
        for q in ("alerts", "rule_firing_alerts"):
            df = registry.QUERIES[q](spark, DATA).filter("rule != 'R3_GEO_DEVICE_MISMATCH'")
            alerts += [list(r) for r in df.select("rule", "entity_id", "ts_ms", "severity", "event_id").collect()]
        # the live engine must agree with the oracle before the digests are trusted
        for q in batch.QUERIES:
            got = harness.frame_digest(registry.QUERIES[q](spark, DATA).toPandas())
            print(f"spark {q}: {'matches' if got == digests[q] else 'DIFFERS FROM'} the oracle", file=sys.stderr)
    finally:
        harness.stop_spark(spark)
    harness.write_json(os.path.join(OUT, "alerts_stream.json"), {
        "source": "R1/R2/R4 rows of the alerts and rule_firing_alerts batch queries",
        "alerts": sorted(alerts),
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
