"""Record the expected result of every query the ``queries`` workload runs,
on perfbench's sf0.01 tables, for its correctness check.

    python3 perfbench/record_expected.py

Each query is recorded from its DuckDB oracle SQL (every one has one). Spark runs each query too, and the script writes nothing if Spark
disagrees with the oracle on any of them. Writes ``perfbench/expected_queries.json``.
Re-record only when a query's meaning changes, never to absorb a wrong result.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.queries import DATA, EXPECTED, result_digest, timed_queries  # noqa: E402


def main() -> int:
    cores = common.prepare_env()
    from tests.oracle_harness import duck_connection

    spark = common.start_spark(cores)
    out, mismatched = {}, []
    try:
        for name, spec in sorted(timed_queries().items()):
            if spec.oracle is None:
                raise RuntimeError(f"{name} has no oracle SQL to record from")
            con = duck_connection(DATA)
            try:
                rows, digest = result_digest(con.sql(spec.oracle).df())
            finally:
                con.close()
            if (rows, digest) != result_digest(spec.spark(spark, DATA).toPandas()):
                mismatched.append(name)
            out[name] = {"rows": rows, "sha256": digest}
            print(name, rows, flush=True)
    finally:
        common.stop_spark(spark)
        shutil.rmtree(common.WORK, ignore_errors=True)
    if mismatched:
        print(f"spark disagrees with the oracle on {mismatched}", file=sys.stderr)
        return 1
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
