"""Driver-style correctness pre-flight at sf0.01.

Mimics the driver's CORRECTNESS_r{N}.json comparison more strictly than
tests/test_oracle_parity.py: both sides go through pandas (the driver's
canonicalizer is pandas-based — see the round-1 failure trace in
CORRECTNESS_r01.json `agg_collect_sorted_list`), so anything pandas
can't sort/hash (ndarray cells) or that differs in dtype *kind*
(int vs float, object vs numeric) is caught here before the driver
sees it.

Usage:
    python tools/driver_compare.py [query ...]   # default: all oracled
    python tools/driver_compare.py --out FULLCHECK_r05.json
        # full-registry sweep, committed artifact (round-4 verdict #7):
        # oracled queries get the full rows/columns/hash compare;
        # rows-only queries are executed and their row count recorded
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_COMPARE_SF", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon_frame(df):
    """Canonicalize a pandas frame the way a value-hasher would:
    columns sorted by name, rows sorted, cells stringified."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
        if isinstance(v, float):
            # collapsing 5.0 vs 5 when the column kind differs is NOT
            # done — the driver wouldn't either; keep float form.
            return f"{v:.4f}"
        if isinstance(v, bool):
            return str(int(v))
        if hasattr(v, "isoformat"):
            # normalize DATE vs midnight-DATETIME: Spark DATE comes
            # through pandas as datetime.date ('2024-01-05'), DuckDB
            # DATE as datetime64 ('2024-01-05T00:00:00') — same value,
            # different isoformat. The driver hash-matches these
            # (r04: orders_open_backlog_daily et al. passed with DATE
            # columns), so the pre-flight must not false-positive.
            import datetime as _dt

            if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                v = _dt.datetime(v.year, v.month, v.day)
            return v.isoformat()
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(cell)
    rows = sorted("|".join(r) for r in df.itertuples(index=False, name=None))
    return rows


def _kind(dtype, series=None) -> str:
    k = getattr(dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "M":
        return "datetime"
    if k == "b":
        return "bool"
    if k == "O" and series is not None:
        # Spark DATE columns surface as object-of-datetime.date; the
        # driver treats them as dates like DuckDB's datetime64 DATE
        import datetime as _dt

        vals = [v for v in series if v is not None]
        if vals and all(isinstance(v, _dt.date) for v in vals):
            return "datetime"
    return "object"


def _digest_compare(spark_df, con, oracle_sql: str) -> dict:
    """In-engine order-insensitive compare for outputs too large to
    collect (r12: scalar_math_lineitem at sf10 is 6e7 rows — the
    pandas compare is driver-bound far below that, which is exactly
    the wrong reason to skip verification of a query whose POINT is
    per-row scale). Both engines compute, per row, md5 over an
    identically-canonicalized string (columns sorted by name; doubles
    mapped through the bit-identical FLOOR(x*1e4+0.5) int64; NULL/NaN
    sentinels), take the first 48 bits as an integer and SUM them
    exactly (decimal(38) / HUGEINT) together with COUNT(*). Equal
    (count, sum) pairs == equal row multisets up to md5-sum collision
    odds (~2^-48 per colliding pair, and nothing adversarial here).
    The 100 TB story: verification stays a pair of engine-side
    aggregates; the driver ships 2 numbers, never the rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = sorted(spark_df.columns)
    s_parts, d_parts = [], []
    for c in cols:
        dt = spark_df.schema[c].dataType
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            s_parts.append(
                f"CASE WHEN `{c}` IS NULL THEN 'N' WHEN isnan(`{c}`) THEN 'NaN' "
                f"ELSE CAST(CAST(FLOOR(`{c}` * 10000 + 0.5) AS BIGINT) AS STRING) END"
            )
            d_parts.append(
                f'CASE WHEN "{c}" IS NULL THEN \'N\' WHEN isnan("{c}") THEN \'NaN\' '
                f'ELSE CAST(CAST(FLOOR("{c}" * 10000 + 0.5) AS BIGINT) AS VARCHAR) END'
            )
        elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            s_parts.append(f"COALESCE(CAST(`{c}` AS STRING), 'N')")
            d_parts.append(f'COALESCE(CAST("{c}" AS VARCHAR), \'N\')')
        elif isinstance(dt, T.StringType):
            # \x01 control char embedded verbatim in the SQL text —
            # both engines take it literally (escape SYNTAX differs)
            s_parts.append(f"COALESCE(`{c}`, '\x01N')")
            d_parts.append(f'COALESCE("{c}", \'\x01N\')')
        elif isinstance(dt, T.BooleanType):
            s_parts.append(f"COALESCE(CAST(CAST(`{c}` AS INT) AS STRING), 'N')")
            d_parts.append(f'COALESCE(CAST(CAST("{c}" AS INT) AS VARCHAR), \'N\')')
        elif isinstance(dt, T.DateType):
            s_parts.append(f"COALESCE(CAST(`{c}` AS STRING), 'N')")
            d_parts.append(f'COALESCE(strftime("{c}", \'%Y-%m-%d\'), \'N\')')
        elif isinstance(dt, T.TimestampType):
            s_parts.append(
                f"COALESCE(date_format(`{c}`, 'yyyy-MM-dd HH:mm:ss.SSSSSS'), 'N')"
            )
            d_parts.append(
                f'COALESCE(strftime("{c}", \'%Y-%m-%d %H:%M:%S.%f\'), \'N\')'
            )
        else:
            raise TypeError(f"digest mode: unsupported dtype {dt} for column {c}")

    srow = "concat_ws('|', " + ", ".join(s_parts) + ")"
    agg = spark_df.selectExpr(
        f"CAST(conv(substr(md5({srow}), 1, 12), 16, 10) AS DECIMAL(38,0)) AS h"
    ).agg(F.count("*").alias("n"), F.sum("h").alias("s")).first()
    s_n, s_sum = int(agg["n"]), int(agg["s"] or 0)

    drow = "concat_ws('|', " + ", ".join(d_parts) + ")"
    d_n, d_sum = con.sql(
        f"SELECT COUNT(*), COALESCE(SUM(('0x' || substr(md5({drow}), 1, 12))::BIGINT), 0) "
        f"FROM ({oracle_sql})"
    ).fetchone()
    return {
        "spark": {"rows": s_n, "digest_sum": s_sum},
        "oracle": {"rows": int(d_n), "digest_sum": int(d_sum)},
        "match": s_n == int(d_n) and s_sum == int(d_sum),
    }


def main(argv: list[str]) -> int:
    import json

    import duckdb

    import __spark_entry__ as entrymod
    from pwir_zadanie_4_mapreduce_spark.session import build_session, release_storage

    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    digest_mode = "--digest" in argv
    if digest_mode:
        argv = [a for a in argv if a != "--digest"]

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # --out = the committed full-registry sweep: every query, rows-only
    # ones included (recorded as executed + row count, like the driver)
    names = argv or (sorted(queries) if out_path else sorted(oracles))
    results: dict[str, dict] = {}

    spark = build_session(cpus=None)
    con = duckdb.connect()
    # Bound the oracle's memory so big-SF sweeps SPILL instead of
    # OOM-killing the whole shard (r11: a shingle-pair oracle at sf10
    # ballooned DuckDB to 82 GB RSS and the kernel killed the process;
    # with a limit DuckDB grades to out-of-core execution).
    duck_mem = os.environ.get("SPARK_GRAFT_DUCK_MEM")
    if duck_mem:
        con.sql(f"SET memory_limit='{duck_mem}'")
        # per-process spill dir: concurrent sharded workers sharing one
        # temp_directory clobber each other's spill files (r12: an sf1
        # dfcap oracle died with 'Could not read enough bytes' when a
        # sibling shard recycled the shared temp file)
        con.sql(f"SET temp_directory='/tmp/duckdb_spill_{os.getpid()}'")
    for t in TABLES:
        # driver fixtures are single files; the .fixtures scale-ups
        # (sf1) are Spark-written DIRECTORIES of part files — DuckDB
        # needs the glob spelling for those
        p = f"{SF_DIR}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = []
    for name in names:
        # session.release_storage: queries that cache()/persist
        # (pagerank's edge frame et al.) or localCheckpoint must not
        # leak storage into the shared session across a ~300-query sweep
        release_storage(spark)
        if name not in oracles:
            if out_path:
                # rows-only by declared design: run it, record rows
                # (the weaker check the driver applies to these)
                t0 = time.monotonic()
                try:
                    n = len(queries[name](spark, SF_DIR).toPandas())
                    results[name] = {"status": "rows_only", "spark_rows": n}
                    print(f"ran  {name} ({time.monotonic() - t0:.1f}s): {n} rows (no oracle)")
                except Exception as exc:  # noqa: BLE001
                    failures.append(name)
                    results[name] = {"status": "fail", "err": repr(exc)}
                    print(f"FAIL {name}: exception {exc!r}")
            else:
                print(f"SKIP {name}: no oracle")
            continue
        t0 = time.monotonic()
        if digest_mode:
            try:
                res = _digest_compare(queries[name](spark, SF_DIR), con, oracles[name])
            except Exception as exc:  # noqa: BLE001
                failures.append(name)
                results[name] = {"status": "fail", "mode": "digest", "err": repr(exc)}
                print(f"FAIL {name}: exception {exc!r}")
                continue
            dt = time.monotonic() - t0
            if res["match"]:
                results[name] = {
                    "status": "pass",
                    "mode": "digest",
                    "spark_rows": res["spark"]["rows"],
                    "oracle_rows": res["oracle"]["rows"],
                    "digest_sum": str(res["spark"]["digest_sum"]),
                }
                print(f"ok   {name} ({dt:.1f}s) [digest, {res['spark']['rows']} rows]")
            else:
                failures.append(name)
                results[name] = {"status": "fail", "mode": "digest", "probs": [str(res)]}
                print(f"FAIL {name} ({dt:.1f}s): digest mismatch {res}")
            continue
        try:
            spdf = queries[name](spark, SF_DIR).toPandas()
            ddf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            results[name] = {"status": "fail", "err": repr(exc)}
            print(f"FAIL {name}: exception {exc!r}")
            continue
        probs = []
        if sorted(spdf.columns) != sorted(ddf.columns):
            probs.append(f"columns spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}")
        if len(spdf) != len(ddf):
            probs.append(f"rows spark={len(spdf)} duck={len(ddf)}")
        if not probs:
            for c in sorted(spdf.columns):
                ks, kd = _kind(spdf[c].dtype, spdf[c]), _kind(ddf[c].dtype, ddf[c])
                if ks != kd:
                    probs.append(f"dtype kind {c}: spark={spdf[c].dtype} duck={ddf[c].dtype}")
        if not probs:
            try:
                s_rows, d_rows = _canon_frame(spdf), _canon_frame(ddf)
            except Exception as exc:  # noqa: BLE001
                probs.append(f"canonicalize error (driver would err too): {exc!r}")
            else:
                diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
                if diff:
                    probs.append(f"{len(diff)} differing rows, first: {diff[:2]}")
        dt = time.monotonic() - t0
        if probs:
            failures.append(name)
            results[name] = {
                "status": "fail",
                "spark_rows": len(spdf),
                "oracle_rows": len(ddf),
                "probs": probs,
            }
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(probs))
        else:
            results[name] = {
                "status": "pass",
                "spark_rows": len(spdf),
                "oracle_rows": len(ddf),
            }
            print(f"ok   {name} ({dt:.1f}s)")

    print(f"\n{len(names) - len(failures)}/{len(names)} ok; failures: {failures}")
    if out_path:
        summary = {
            "sf_dir": SF_DIR,
            "total": len(names),
            "pass": sum(1 for r in results.values() if r["status"] == "pass"),
            "rows_only": sum(1 for r in results.values() if r["status"] == "rows_only"),
            "fail": len(failures),
            "queries": results,
        }
        with open(out_path, "w") as fh:
            json.dump(summary, fh, indent=1)
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
