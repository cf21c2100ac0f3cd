"""Expected outputs for one workload, computed in DuckDB apart from Spark.

Runs as its own process, before the benchmark starts its Spark session:

    python3 perfbench/oracle.py <data_dir> <workload> <out.json> <threads>

``<data_dir>`` holds the run's ``documents.parquet``. The extraction goldens
come from ``spec.html_golden_duckdb_sql`` / ``pdf_golden_duckdb_sql``; each
registry query is reduced to its row count and order-insensitive value hash
over its ``oracle_sql()`` twin. Nothing is compared against a stored
copy of an earlier output.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from checks import vhash  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def extraction_goldens(con) -> dict:
    from pdfplumber_golang_spark import spec

    rows = con.sql(
        spec.html_golden_duckdb_sql(spec.SQL_IS_HTML)
        + " UNION ALL "
        + spec.pdf_golden_duckdb_sql(spec.SQL_IS_PDF)
    ).fetchall()
    malformed = con.sql(
        f"SELECT {spec.SQL_URL} FROM documents "
        f"WHERE doc_id % {spec.MALFORMED_MOD} = {spec.MALFORMED_REM}"
    ).fetchall()
    return {"texts": dict(rows), "malformed": [u for (u,) in malformed]}


def main() -> int:
    data_dir, workload, out, threads = sys.argv[1:5]
    con = duckdb.connect(
        config={
            "threads": int(threads),
            "memory_limit": "2GB",
            "temp_directory": os.path.join(data_dir, "duckdb_tmp"),
        }
    )
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(data_dir, 'documents.parquet')}'"
    )
    spec_ = WORKLOADS[workload]
    expected: dict = {}
    if spec_.replicas:
        expected["extract"] = extraction_goldens(con)
    if spec_.queries:
        import __spark_entry__ as E

        oracles = E.oracle_sql()
        for name in spec_.queries:
            frame = con.sql(oracles[name]).df()
            expected[name] = {"rows": len(frame), "hash": vhash(frame)}
    con.close()
    with open(out, "w") as f:
        json.dump(expected, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
