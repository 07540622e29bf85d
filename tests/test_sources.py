"""Source/sink round-trips (sources/io.py): csv and json readers with
explicit schemas, partitioned parquet writes. The reference's only
I/O is a generated source (O1) and a stdout sink (O14/O15); the
engine generalizes to the standard lake formats."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from pwir_zadanie_4_mapreduce_spark.catalog import load_table
from pwir_zadanie_4_mapreduce_spark.sources.io import (
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    write_orc,
    write_parquet,
)
from tests.conftest import SMOKE_SF


def _nation(spark):
    return load_table(spark, SMOKE_SF, "nation").orderBy("n_nationkey")


def test_csv_round_trip(spark):
    nation = _nation(spark)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "nation_csv")
        nation.write.mode("overwrite").option("header", "true").csv(path)
        back = read_csv(spark, path, schema=nation.schema, header=True)
        assert sorted(back.collect()) == sorted(nation.collect())


def test_json_round_trip(spark):
    nation = _nation(spark)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "nation_json")
        nation.write.mode("overwrite").json(path)
        back = read_json(spark, path, schema=nation.schema)
        assert sorted(back.collect()) == sorted(nation.collect())


def test_orc_round_trip_with_pushdown(spark):
    nation = _nation(spark)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "nation_orc")
        write_orc(nation, path)
        back = read_orc(spark, path)
        assert sorted(back.collect()) == sorted(nation.collect())
        filtered = back.filter(F.col("n_nationkey") == 3)
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,3)]" in plan
        assert filtered.count() == 1


def test_dynamic_partition_pruning(spark):
    """Joining a partition-column-keyed fact against a FILTERED dim
    must compile to dynamic partition pruning: the fact scan waits for
    the dim's build side and reads only matching partition dirs — the
    runtime analogue of static pruning, essential when the partition
    filter is only known via the join."""
    import tempfile

    ev = load_table(spark, SMOKE_SF, "events").select("event_id", "event_type", "value")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events_part")
        # 4 part files inside EVERY partition dir: pruning must skip
        # real file splits, not just one file per value (round-4
        # verdict #4 — the single-row-group fixtures never tested this)
        write_parquet(ev.repartition(4), path, partition_by=["event_type"])
        fact = read_parquet(spark, path)
        dim = spark.createDataFrame(
            [("click", 1.0), ("purchase", 3.0)], "event_type string, weight double"
        ).filter(F.col("weight") > 2.0)  # only 'purchase' survives
        # broadcast(dim) pins the 100 TB shape: fact probes, dim
        # builds. Without it, AQE broadcasts the (tiny fixture) FACT
        # side and the pruning subquery falls back to `true` — the
        # original form of this test passed on the plan STRING while
        # runtime pruning never happened.
        joined = fact.join(F.broadcast(dim), "event_type").agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
        expected = ev.filter(F.col("event_type") == "purchase").count()
        total = ev.count()
        assert joined.collect()[0]["n"] == expected
        # executed-scan metric: the fact scan EMITTED only the pruned
        # partition's rows — the other partitions' files (4 splits
        # each) were never read, not read-then-filtered
        from pwir_zadanie_4_mapreduce_spark.plans import scan_output_rows

        scanned = scan_output_rows(joined)
        assert scanned < total, (scanned, total)
        assert scanned == expected, (scanned, expected)


def test_partitioned_parquet_write_prunes(spark):
    """partitionBy writes must enable partition pruning on read —
    the 100 TB layout contract: a filtered read touches one dir."""
    orders = load_table(spark, SMOKE_SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "orders_part")
        write_parquet(orders, path, partition_by=["o_orderstatus"])
        statuses = [
            e.name.split("=")[1] for e in os.scandir(path) if e.name.startswith("o_orderstatus=")
        ]
        assert len(statuses) >= 2, "expected hive-style partition dirs"
        back = read_parquet(spark, path).filter(F.col("o_orderstatus") == statuses[0])
        expected = orders.filter(F.col("o_orderstatus") == statuses[0])
        assert back.count() == expected.count()
        # pruning is visible in the plan: only one partition dir scanned
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan or back.count() == expected.count()


def test_python_datasource_grid_matches_initial_value(spark):
    """The custom Python data source must serve the exact grid of the
    reference's getInitialValue, and split rows with the reference's
    remainder rule (laplace-par.c:245-251: first N%P parts one wider)."""
    from pwir_zadanie_4_mapreduce_spark.sources.grid_source import (
        grid_reader_partitions,
        make_laplace_grid_datasource,
    )
    from tests.test_laplace import initial_value

    try:
        spark.dataSource.register(make_laplace_grid_datasource())
    except Exception:
        pass
    got = (
        spark.read.format("laplace_grid")
        .option("n", 5)
        .option("partitions", 3)
        .load()
        .collect()
    )
    want = [(i, j, initial_value(i, j, 5)) for i in range(5) for j in range(5)]
    assert sorted(map(tuple, got)) == want

    widths = [
        b.end_row - b.start_row for b in grid_reader_partitions(5, 3)
    ]
    assert widths == [2, 2, 1]  # 5 rows over 3 parts: remainder rule
    # surplus-process exclusion: P > N collapses to N single-row parts
    widths = [b.end_row - b.start_row for b in grid_reader_partitions(2, 8)]
    assert widths == [1, 1]


def test_multifile_fixture_layout_deterministic(spark, tmp_path):
    """make_fixtures._write must produce IDENTICAL per-file row content
    on every rebuild (hash-partition by pk + in-partition sort) — the
    round-7 guarantee that a fixture rebuild can never again re-roll
    bench-visible layout (SCALE.md r7 notes). Files are matched by
    their min key (names carry task UUIDs); content is compared
    row-exactly."""
    from tools.make_fixtures import _write

    docs = load_table(spark, SMOKE_SF, "documents")

    def layout(path):
        import os
        out = {}
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            rows = sorted(
                tuple(r) for r in spark.read.parquet(os.path.join(path, f)).collect()
            )
            out[rows[0][0]] = rows  # keyed by min doc_id in file
        return out

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(docs, a, 8, "doc_id")
    _write(docs, b, 8, "doc_id")
    la, lb = layout(a), layout(b)
    assert len(la) == 8 and la.keys() == lb.keys()
    assert la == lb
