"""Expected answers for the registry rows, computed by DuckDB.

The engine registers, beside each SQL-expressible row, the equivalent
DuckDB SQL (`SparkEntry.oracleSql`). This module runs such a statement in
DuckDB over the benchmark's parquet tables and writes the answer as
parquet; the harness reads it back with Spark and digests it with the
same code (`Fingerprint.scala`) that digests the row's own result.

Usage: python3 perfbench/oracle.py <dataDir> <sqlFile> <outParquet>
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_oracle import TABLES  # noqa: E402  the oracle gate's view set-up


def write_expected(data_dir, jobs):
    """jobs: {outParquet: sql}. Writes each answer to its parquet file, or,
    when DuckDB cannot run the SQL, the error to outParquet + '.error'."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for out, sql in sorted(jobs.items()):
        tmp = out + ".tmp"
        try:
            con.execute(f"COPY ({sql.strip().rstrip(';')}\n) TO '{tmp}' (FORMAT parquet)")
            os.replace(tmp, out)
        except Exception as e:  # an oracle that cannot run checks nothing
            with open(out + ".error", "w") as f:
                f.write(str(e))
    con.close()


if __name__ == "__main__":
    with open(sys.argv[2]) as f:
        write_expected(sys.argv[1], {sys.argv[3]: f.read()})
