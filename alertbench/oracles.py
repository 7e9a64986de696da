"""Make oracle_digests.json anew: the DuckDB oracle result of every
operation of every workload, stored as row count + digest.

    python3 alertbench/oracles.py [DATA_DIR]

DATA_DIR defaults to $ALERTBENCH_DATA or /root/testdata/sf0.1. The
oracles are not run on every benchmark call: building the oracle SQL
alone (``oracle_sql()``) takes about 4 s, and the slowest oracle here
(``dedup_minhash_lsh``) 35 s, against a run budget of about a minute.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    sys.path[:0] = [HERE, ROOT]
    import __spark_entry__
    from checks import digest
    from fink_science_spark.oracle import duckdb_connection
    from workloads import WORKLOADS

    data_dir = argv[0] if argv else os.environ.get("ALERTBENCH_DATA", "/root/testdata/sf0.1")
    sqls = __spark_entry__.oracle_sql()
    con = duckdb_connection(data_dir)
    stored = {}
    for name in sorted({op for ops in WORKLOADS.values() for op in ops}):
        if name not in sqls:
            continue
        t = time.time()
        rel = con.execute(sqls[name])
        d = digest([c[0] for c in rel.description], rel.fetchall())
        print(f"{name}: {d['rows']} rows in {time.time() - t:.2f} s", file=sys.stderr)
        stored[name] = d
    con.close()
    with open(os.path.join(HERE, "oracle_digests.json"), "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
