"""Rebuild ``oracle.json``: the DuckDB oracle digest of every query in the
query mix, taken once over the benchmark's fixtures, stored with the
content hashes of the fixture files it came from.

    python3 perfbench/oracle.py      # from the repository root

Run it again only when a mix or the fixture generator changes; the
benchmark refuses digests whose fixture hashes do not match its fixtures.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import queries  # noqa: E402
from digest import digest  # noqa: E402
from mk_kafka_connect_spark.plans import oracle_queries  # noqa: E402

# Known oracle mismatches, recorded for a later correctness fix and not
# compared by the benchmark: two measured on the project's sf0.1 test
# data, and sim_topk_bruteforce, which matches there but not on these
# fixtures (one cosine of query 59 differs in the fifth digit: Spark
# 0.32454615643437096, DuckDB 0.32455267568092133). None is in the mix.
KNOWN_MISMATCHES = {
    "project_sf0.1_test_data": ["sim_topk_ivf", "emb_covariance"],
    "benchmark_fixtures": ["sim_topk_bruteforce"],
}


def main() -> None:
    work = os.path.join(os.getcwd(), ".perfbench_work")
    sf_dir, hashes, _ = queries.fixtures(work)
    con = duckdb.connect()
    for t in hashes:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    sql = oracle_queries()
    digests = {}
    for name in queries.MIX:
        digests[name] = digest(con.execute(sql[name]).df())
    out = {
        "fixtures": {"sf": queries.DATA_SF, "seed": queries.DATA_SEED, "hashes": hashes},
        "known_mismatches": KNOWN_MISMATCHES,
        "digests": digests,
    }
    with open(queries.ORACLE_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(digests)} digests to {queries.ORACLE_PATH}")


if __name__ == "__main__":
    main()
