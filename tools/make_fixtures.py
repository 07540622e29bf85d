#!/usr/bin/env python
"""Fixture re-materializer: multi-file layouts and an sf1 scale-up.

Why (round-4 verdict #4/#5): the driver-supplied parquet fixtures are
ONE file with ONE row group per table, so every scan plans exactly one
split no matter how low `maxPartitionBytes` goes — the measured bench
and scaling slopes never exercised split planning, file-level pruning,
or shuffle fan-in from a parallel scan. This tool rewrites the same
rows (read via the catalog, so the events-ts nanos quirk is handled)
into:

  multifile : `dst/{table}.parquet/` directories with >=32 part files
              for fact tables (dims stay single-file — matching how a
              real lakehouse lays out a 100 TB fact vs a 5-row dim).
  scaleup   : an sfN directory built from sf0.1 by replicating fact
              tables `factor`x with keys remapped per replica so join
              semantics (keys unique, FKs resolve within a replica)
              and duplicate structure survive:
                - orders/lineitem/customer/part/supplier keys get
                  `key + rep * stride` (stride = pow10 above max key),
                  matching TPC-H's linear table scaling; nation/region
                  stay fixed;
                - events get new event_ids and per-replica user_ids;
                  ts is shifted by rep seconds (keeps windows dense);
                - documents: doc_id remapped AND every token suffixed
                  `_r{rep}` for rep>0, so replicas are disjoint in
                  shingle space — duplicate DENSITY stays that of
                  sf0.1 instead of every doc gaining `factor` twins
                  (which would quadratically inflate dedup candidate
                  volume and fake a superlinear slope);
                - embeddings: vec_id remapped, each replica mapped by
                  an md5-seeded SIGNED PERMUTATION of the coordinates
                  — an exactly orthogonal transform, so within-replica
                  geometry (norms, cosines, kNN structure) is preserved
                  bit-for-bit as a multiset while cross-replica cosines
                  fall to O(1/sqrt(dim)). (r11 used rotation-by-rep,
                  which is DEGENERATE at factor >= dim: reps congruent
                  mod dim replicate vectors verbatim, creating
                  cosine-1.0 100-cliques that gave every pairwise
                  embedding op quadratic output at sf10 — r11 verdict
                  "What's missing #3".)

Outputs land under the repo's .fixtures/ (gitignored). Never writes
to /root/testdata.

Progress lines go to stderr: bench.py builds its multi-file fixtures
through ``multifile``, and its stdout must stay the single JSON line.

Usage:
  python tools/make_fixtures.py multifile /root/testdata/sf0.1 \
      .fixtures/multifile/sf0.1 [--files 32]
  python tools/make_fixtures.py scaleup /root/testdata/sf0.1 \
      .fixtures/multifile/sf1 [--factor 10] [--files 32]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pwir_zadanie_4_mapreduce_spark.catalog import TABLES, load_table  # noqa: E402

# single-file tables: bounded cardinality, broadcast-class dims
SINGLE_FILE = {"region", "nation", "supplier"}

# fact keys remapped on scale-up: table -> (pk cols, fk cols)
KEY_COLS = {
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


# row -> file assignment key per table (first KEY_COLS entry is the
# pk); used to make the layout DETERMINISTIC: hash-partitioning by a
# stable key + an in-partition sort yields byte-identical files on
# every rebuild, unlike round-robin repartition whose file contents
# depend on the builder session's scan splits. A layout re-roll is
# exactly what shifted seven bench timings 1.3-1.5x at the round-6
# fixture rebuild (measured reproducible by the round-7 interleaved
# A/B, SCALE.md) — rebuilds must never re-roll the dice again.
LAYOUT_VERSION = "v2-hash-sorted"
_LAYOUT_KEY = {
    "customer": "c_custkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    # full pk: the sort must be by a UNIQUE key or within-tie order
    # would still follow upstream task completion order
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _write(
    df: DataFrame, path: str, files: int, key: str | list[str] | None = None
) -> None:
    if key is not None and files > 1:
        cols = [key] if isinstance(key, str) else list(key)
        df = df.repartition(files, F.col(cols[0])).sortWithinPartitions(*cols)
    else:
        df = df.repartition(files)
    df.write.mode("overwrite").parquet(path)


def multifile(spark: SparkSession, src: str, dst: str, files: int = 32) -> None:
    for name in TABLES:
        df = load_table(spark, src, name)
        n = 1 if name in SINGLE_FILE else files
        _write(df, os.path.join(dst, f"{name}.parquet"), n, _LAYOUT_KEY.get(name))
        print(f"  {name}: {n} file(s)", file=sys.stderr)


def _stride(spark: SparkSession, src: str, name: str, key: str) -> int:
    mx = load_table(spark, src, name).agg(F.max(key)).first()[0]
    s = 1
    while s <= mx:
        s *= 10
    return s


def _md5_bytes(tag: str):
    """Endless deterministic byte stream — md5(tag:counter) blocks.
    Self-contained so rebuilds are bit-identical on any Python."""
    import hashlib
    import itertools

    for i in itertools.count():
        yield from hashlib.md5(f"{tag}:{i}".encode()).digest()


def _rep_transforms(factor: int, dim: int) -> tuple[list[list[int]], list[list[float]]]:
    """Per-replica signed permutation (rep 0 = identity). Fisher-Yates
    over an md5 byte stream; two bytes per draw keep the modulo bias
    below 2^-9 at dim<=256 (and bias only affects WHICH orthogonal
    transform we get, never its orthogonality)."""
    perms: list[list[int]] = []
    signs: list[list[float]] = []
    for rep in range(factor):
        if rep == 0:
            perms.append(list(range(dim)))
            signs.append([1.0] * dim)
            continue
        bs = _md5_bytes(f"emb-signedperm-{rep}")
        perm = list(range(dim))
        for j in range(dim - 1, 0, -1):
            r = ((next(bs) << 8) | next(bs)) % (j + 1)
            perm[j], perm[r] = perm[r], perm[j]
        perms.append(perm)
        signs.append([1.0 if next(bs) & 1 else -1.0 for _ in range(dim)])
    return perms, signs


def scaleup(
    spark: SparkSession,
    src: str,
    dst: str,
    factor: int = 10,
    files: int = 32,
    only: set[str] | None = None,
) -> None:
    strides = {
        "customer": _stride(spark, src, "customer", "c_custkey"),
        "part": _stride(spark, src, "part", "p_partkey"),
        "supplier": _stride(spark, src, "supplier", "s_suppkey"),
        "orders": _stride(spark, src, "orders", "o_orderkey"),
        "events": _stride(spark, src, "events", "event_id"),
        "events_user": _stride(spark, src, "events", "user_id"),
        "documents": _stride(spark, src, "documents", "doc_id"),
        "embeddings": _stride(spark, src, "embeddings", "vec_id"),
    }

    def reps(df: DataFrame) -> DataFrame:
        return df.crossJoin(
            spark.range(factor).select(F.col("id").cast("int").alias("rep"))
        )

    def shift(col: str, stride: int):
        return (F.col(col) + F.col("rep").cast("long") * stride).alias(col)

    def want(name: str) -> bool:
        return only is None or name in only

    for name in ("region", "nation", "supplier"):
        if not want(name):
            continue
        df = load_table(spark, src, name)
        if name == "supplier":
            df = reps(df).select(
                shift("s_suppkey", strides["supplier"]),
                "s_name",
                "s_nationkey",
                "s_acctbal",
            )
        _write(df, os.path.join(dst, f"{name}.parquet"), 1)
        print(f"  {name}: done", file=sys.stderr)

    if want("customer"):
        df = reps(load_table(spark, src, "customer")).select(
            shift("c_custkey", strides["customer"]),
            "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        )
        _write(df, os.path.join(dst, "customer.parquet"), files, "c_custkey")
        print("  customer: done", file=sys.stderr)

    if want("part"):
        df = reps(load_table(spark, src, "part")).select(
            shift("p_partkey", strides["part"]),
            "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
        )
        _write(df, os.path.join(dst, "part.parquet"), files, "p_partkey")
        print("  part: done", file=sys.stderr)

    if want("orders"):
        df = reps(load_table(spark, src, "orders")).select(
            shift("o_orderkey", strides["orders"]),
            shift("o_custkey", strides["customer"]),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        )
        _write(df, os.path.join(dst, "orders.parquet"), files, "o_orderkey")
        print("  orders: done", file=sys.stderr)

    if want("lineitem"):
        df = reps(load_table(spark, src, "lineitem")).select(
            shift("l_orderkey", strides["orders"]),
            shift("l_partkey", strides["part"]),
            shift("l_suppkey", strides["supplier"]),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        )
        _write(df, os.path.join(dst, "lineitem.parquet"), files, ["l_orderkey", "l_linenumber"])
        print("  lineitem: done", file=sys.stderr)

    if want("events"):
        df = reps(load_table(spark, src, "events")).select(
            shift("event_id", strides["events"]),
            (F.col("ts") + F.make_interval(secs=F.col("rep").cast("double"))).alias("ts"),
            shift("user_id", strides["events_user"]),
            "event_type", "value", "props",
        )
        _write(df, os.path.join(dst, "events.parquet"), files, "event_id")
        print("  events: done", file=sys.stderr)

    if want("documents"):
        df = reps(load_table(spark, src, "documents")).select(
            shift("doc_id", strides["documents"]),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(
                F.regexp_replace(
                    F.col("text"),
                    F.lit(r"(\S+)"),
                    F.concat(F.lit(r"$1_r"), F.col("rep").cast("string")),
                )
            )
            .alias("text"),
            "lang", "source", "n_chars",
        )
        # n_chars drifts from len(text) for rep>0; recompute to stay honest
        df = df.withColumn("n_chars", F.length("text").cast("long"))
        _write(df, os.path.join(dst, "documents.parquet"), files, "doc_id")
        print("  documents: done", file=sys.stderr)

    if want("embeddings"):
        emb = load_table(spark, src, "embeddings")
        dim = emb.select(F.size("embedding")).first()[0]
        perms, sgns = _rep_transforms(factor, dim)
        tmap = spark.createDataFrame(
            [(r, perms[r], sgns[r]) for r in range(factor)],
            "rep int, perm array<int>, sgn array<float>",
        )
        # signed permutation: F.get (0-based, Column index) over a plain
        # column reference, so the higher-order lambda re-evaluates only
        # an attribute — no per-element recompute blowup
        df = reps(emb).join(F.broadcast(tmap), "rep").select(
            shift("vec_id", strides["embeddings"]),
            F.zip_with(
                "perm", "sgn", lambda p, s: F.get("embedding", p) * s
            ).cast("array<float>").alias("embedding"),
            "label",
        )
        _write(df, os.path.join(dst, "embeddings.parquet"), files, "vec_id")
        print("  embeddings: done", file=sys.stderr)


def main() -> None:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    mf = sub.add_parser("multifile")
    mf.add_argument("src")
    mf.add_argument("dst")
    mf.add_argument("--files", type=int, default=32)
    su = sub.add_parser("scaleup")
    su.add_argument("src")
    su.add_argument("dst")
    su.add_argument("--factor", type=int, default=10)
    su.add_argument("--files", type=int, default=32)
    su.add_argument(
        "--tables",
        help="comma-separated subset to (re)build, e.g. 'embeddings'",
    )
    args = p.parse_args()

    from pwir_zadanie_4_mapreduce_spark.session import build_session

    spark = build_session(
        app_name=f"make-fixtures-{args.cmd}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    dst = args.dst if os.path.isabs(args.dst) else os.path.join(REPO_ROOT, args.dst)
    if args.cmd == "multifile":
        multifile(spark, args.src, dst, args.files)
    else:
        only = set(args.tables.split(",")) if args.tables else None
        scaleup(spark, args.src, dst, args.factor, args.files, only)
    spark.stop()


if __name__ == "__main__":
    main()
