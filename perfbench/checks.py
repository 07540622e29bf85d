"""Output checks.

Query results are compared with their DuckDB oracle from
``__spark_entry__.oracle_sql()``, canonicalised the way
tests/test_oracle_parity.py does it, by digest. The solver is compared
with the iteration count and final diff of the reference binary
(``laplace-seq.exe``, BASELINE.md).
"""

from __future__ import annotations

import hashlib

ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# n -> (iterations, final diff printed with %.10f), laplace-seq.exe <n>
SOLVER_GOLDEN = {64: (1045, "0.0000212198")}


def digest(rows, colnames) -> dict:
    """Order-insensitive digest of a result: row count, column names and
    a hash of the canonical rows."""
    from tests.test_oracle_parity import _canon

    canon = _canon(rows, list(colnames))
    sha = hashlib.sha256("\n".join(canon).encode()).hexdigest()
    return {"rows": len(canon), "cols": sorted(colnames), "sha256": sha}


def oracle_digests(src_dir: str, names: list[str]) -> dict[str, dict]:
    """Run each query's DuckDB oracle over the source fixtures."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for table in ORACLE_TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{src_dir}/{table}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(sql[name])
            out[name] = digest(rel.fetchall(), [d[0] for d in rel.description])
        return out
    finally:
        con.close()


def solver_ok(n: int, iterations: int, final_diff: float) -> bool:
    return (iterations, f"{final_diff:.10f}") == SOLVER_GOLDEN[n]
