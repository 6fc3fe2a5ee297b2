"""Write reference.json: the curation sweep's expected outputs.

    python3 perfbench/make_reference.py

For each size, generates the sweep's tables, runs every sweep query on
Spark, and cross-checks its rows against the query's DuckDB oracle
(``__spark_entry__.oracle_sql()``, compared the way
``tools/check_oracle.py`` compares them). Only when every query matches
does it record each query's (row count, checksum) as the reference.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402

sys.path.insert(1, host.REPO)


def main() -> int:
    import duckdb

    import __spark_entry__
    from curation_data import SIZES, write_tables
    from sweep import QUERIES, REFERENCE, output_checksum
    from tools.check_oracle import norm_rows

    work = os.path.join(host.REPO, ".bench_work", "reference")
    spark = host.start_session(work)
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    reference, failures = {}, []
    try:
        for size in SIZES:
            data = os.path.join(work, size)
            write_tables(data, size)
            con = duckdb.connect()
            for t in ("events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            reference[size] = {}
            for name in QUERIES:
                df = queries[name](spark, data)
                got = df.toPandas()
                want = con.execute(oracles[name]).fetchdf()
                if sorted(got.columns) != sorted(want.columns) or (
                        norm_rows(got) != norm_rows(want)):
                    failures.append(f"{size}/{name}")
                    print(f"MISMATCH {size}/{name}: spark {len(got)} rows,"
                          f" duckdb {len(want)} rows", file=sys.stderr)
                    continue
                reference[size][name] = list(output_checksum(df))
                print(f"ok {size}/{name}: {len(got)} rows", file=sys.stderr)
    finally:
        host.stop_session(spark)
    if failures:
        print(f"{len(failures)} queries differ from the oracle; reference"
              " not written", file=sys.stderr)
        return 1
    with open(REFERENCE, "w") as f:
        json.dump(reference, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
