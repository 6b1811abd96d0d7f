"""DuckDB oracle for the benchmark: runs each requested oracle SQL over
the generated input tables and writes its result as parquet.

Usage: python3 oracle.py <input_dir> <requests.json> <out_dir>

`requests.json` maps an op id to its oracle SQL (the registry's
`oracleSql`, or the same builder with the workload's live-set
predicates). Each result lands in `<out_dir>/<op id>.parquet`; the
benchmark hashes it exactly as it hashes the engine's result. Errors
are written to `<out_dir>/errors.json` and fail the op that needs them.
"""
import json
import os
import sys
import time

import duckdb

from gen import TABLES


def main():
    in_dir, requests, out_dir = sys.argv[1:4]
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(in_dir, t + '.parquet')}'")
    errors, took = {}, {}
    for op, sql in sorted(json.load(open(requests)).items()):
        path = os.path.join(out_dir, f"{op}.parquet")
        t0 = time.perf_counter()
        try:
            con.sql(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
        except Exception as e:  # the op fails; the other oracles still run
            errors[op] = str(e)[:500]
        took[op] = round(time.perf_counter() - t0, 3)
    print(f"[oracle] seconds per op: {json.dumps(took)}", file=sys.stderr)
    with open(os.path.join(out_dir, "errors.json"), "w") as f:
        json.dump(errors, f)


if __name__ == "__main__":
    main()
