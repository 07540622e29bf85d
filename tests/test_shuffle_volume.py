"""Shuffle VOLUME assertions for the flagship 100 TB plans (round-4
verdict #6): SCALE.md's sizing rests on claims like "the MinHash band
shuffle ships (band_key, doc_id) only" and "the df-capped Jaccard
join fans out ≤ C(DF_CAP,2) rows per kept shingle". Plan-shape tests
can't catch an edit that keeps the shape but widens the payload (say,
a shingle array riding the band explode) — these read the executed
plan's SQL metrics (plans.metrics) and fail on exactly that.

Broadcast joins are disabled for the measurement: at sf0.01 AQE
converts every join to broadcast (no exchange → nothing to measure);
the disabled-broadcast plan is the shape the claims are about — the
one a 1000-executor cluster runs when neither side fits a broadcast.

NOTE: `_hashed_shingles` is localCheckpointed inside the dedup
queries, so the shingle-explode stages run during checkpoint
materialization and are invisible to the result's QueryExecution —
the metrics below cover every post-checkpoint exchange, which is
where all the claimed bounds live (banding, candidate join, verify).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pwir_zadanie_4_mapreduce_spark.catalog import load_table
from pwir_zadanie_4_mapreduce_spark.operators.dedup import (
    DF_CAP,
    MINHASH_BAND_ROWS,
    MINHASH_PERMS,
    _hashed_shingles,
    dedup_minhash_lsh,
    dedup_ngram_jaccard_dfcap,
)
from pwir_zadanie_4_mapreduce_spark.operators.timeseries import (
    pipeline_pack_sequences,
)
from pwir_zadanie_4_mapreduce_spark.plans import metrics as PM

from tests.conftest import CORRECTNESS_SF, session_conf

BANDS = MINHASH_PERMS // MINHASH_BAND_ROWS


@pytest.fixture()
def planned_broadcast_only(spark):
    """AQE's runtime broadcast conversion off, the session's static
    threshold left as it is. Pagerank decides its vertex broadcast
    from the static threshold (functions/graph.py), so its pin runs
    here rather than under ``no_broadcast``: it measures the layout as
    planned, with no join re-planned by AQE after it ran."""
    with session_conf(spark, {"spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}):
        yield spark


def _corpus_counts(spark):
    docs = load_table(spark, CORRECTNESS_SF, "documents")
    n_docs = docs.count()
    sh = _hashed_shingles(spark, CORRECTNESS_SF)
    postings = sh.select(F.explode("hs")).count()
    return n_docs, postings


def test_minhash_band_shuffle_ships_ids_only(no_broadcast):
    spark = no_broadcast
    n_docs, postings = _corpus_counts(spark)
    df = dedup_minhash_lsh(spark, CORRECTNESS_SF)
    n_pairs = len(df.collect())
    assert n_pairs > 0
    stats = PM.shuffle_stats(df)
    per = PM.per_exchange_records(df)

    # (a) Banding fans each doc into BANDS rows per join side; with the
    # candidate dedup + verify joins on top, total shuffled records
    # stay O(bands·docs), never O(postings) (the corpus-explode scale).
    budget = 2 * BANDS * n_docs + 6 * n_docs + 100 * n_pairs
    assert stats["records"] <= budget, (stats, per, budget)

    # (b) The payload claim: shuffled rows are ids/hashes, not shingle
    # arrays. Mean uncompressed width per shuffled record must stay in
    # the fixed-width range (doc_id + band key + row overhead); a
    # shingle array riding any hot exchange pushes this into hundreds.
    assert stats["records"] > 0
    mean_width = stats["data_size"] / stats["records"]
    assert mean_width <= 120, (mean_width, stats)

    # (c) No single exchange ships more than the band fan-out of one
    # side (the largest legitimate exchange in the plan).
    assert max(per) <= 1.1 * BANDS * n_docs + 100 * n_pairs, per


def test_dfcap_candidate_join_is_df_bounded(no_broadcast):
    spark = no_broadcast
    n_docs, postings = _corpus_counts(spark)
    df = dedup_ngram_jaccard_dfcap(spark, CORRECTNESS_SF)
    n_pairs = len(df.collect())
    assert n_pairs > 0
    per = PM.per_exchange_records(df)

    # The pair-count exchange (join output grouped by doc_a, doc_b)
    # is bounded by kept-postings × DF_CAP: each kept posting meets at
    # most DF_CAP partners on its shingle (df ≤ DF_CAP by the cap).
    # kept-postings ≤ all postings, so postings × DF_CAP is a sound
    # ceiling ANY dfcap plan must respect — the uncapped all-pairs
    # join would blow through it on the first boilerplate shingle at
    # scale (and an edit dropping the `rare` filter fails this today).
    ceiling = postings * DF_CAP
    assert max(per) <= ceiling, (per, ceiling)

    # Sanity that the measurement saw the real fan-out stages, not a
    # collapsed/broadcast plan: the posting index itself shuffles.
    assert sum(per) >= postings * 0.5, (per, postings)


def test_skew_join_replicates_only_hot_keys(no_broadcast):
    """join_skew_aqe_order_revenue claims dim inflation O(salt·|hot|),
    not O(salt·|dim|): with broadcasts disabled (the hot-set hint is
    still honored — hints override the threshold), total shuffled
    records must stay under detection + fact + dim + salt·hot, and no
    single exchange may exceed the fact side. The manual full-salting
    demo ships salt×|dim| through the dim exchange and fails both."""
    from pwir_zadanie_4_mapreduce_spark.operators.advanced import (
        _SALT,
        _SKEW_HOT_THRESHOLD,
        join_skew_aqe_order_revenue,
    )

    spark = no_broadcast
    li = load_table(spark, CORRECTNESS_SF, "lineitem")
    n_li = li.count()
    n_orders = load_table(spark, CORRECTNESS_SF, "orders").count()
    n_hot = (
        li.groupBy("l_orderkey")
        .count()
        .filter(F.col("count") >= _SKEW_HOT_THRESHOLD)
        .count()
    )
    # both code paths must be exercised by the fixture
    assert 0 < n_hot < n_orders, (n_hot, n_orders)

    df = join_skew_aqe_order_revenue(spark, CORRECTNESS_SF)
    out_rows = len(df.collect())
    assert out_rows > 0
    stats = PM.shuffle_stats(df)
    per = PM.per_exchange_records(df)

    budget = 2 * n_li + n_orders + _SALT * n_hot + 10 * out_rows
    assert stats["records"] <= budget, (stats, per, budget)
    assert max(per) <= 1.05 * n_li, (per, n_li)


def test_basket_pairs_no_self_join_fanout(no_broadcast):
    """basket_part_pairs claims ONE basket-assembly shuffle with the
    C(k,2) pair fan-out JVM-side AFTER the shuffle — a lineitem
    self-join plan would instead ship the full pair fan-out (sum of
    C(k,2) per order ≈ 4× lineitem rows here) through an exchange."""
    from pwir_zadanie_4_mapreduce_spark.operators.analytics import basket_part_pairs

    spark = no_broadcast
    li = load_table(spark, CORRECTNESS_SF, "lineitem")
    n_li = li.count()
    # analytic fan-out: sum over orders of C(|distinct parts|, 2) —
    # the rows that MUST co-locate for pair-support counting in any
    # correct plan
    k = F.size(F.collect_set("l_partkey"))
    total_pairs = (
        li.groupBy("l_orderkey")
        .agg((k * (k - 1) / 2).alias("p"))
        .agg(F.sum("p"))
        .first()[0]
    )
    df = basket_part_pairs(spark, CORRECTNESS_SF)
    out_rows = len(df.collect())
    per = PM.per_exchange_records(df)
    stats = PM.shuffle_stats(df)
    # Legitimate volume: one basket-assembly exchange (partial
    # collect_set combine ships ~one row per order, bounded by
    # lineitem rows) + the C(k,2) pair exchange (bounded by the
    # analytic fan-out) + the result orderBy. A lineitem SELF-JOIN
    # plan additionally ships lineitem through the join exchange
    # twice, pushing total past pairs + 2×lineitem — assert under it.
    budget = 1.1 * total_pairs + n_li + out_rows
    assert stats["records"] <= budget, (stats, per, total_pairs, n_li)
    # and no single exchange exceeds the pair fan-out itself
    assert max(per) <= 1.1 * total_pairs, (per, total_pairs)
    assert out_rows > 0


def test_pagerank_loop_is_shuffle_free(planned_broadcast_only):
    """graph_pagerank_fixed claims ZERO shuffle exchanges inside the
    iteration loop (round-5 verdict #4): edges are repartitioned by
    dst once and cached; the broadcast rank join preserves that
    partitioning, so each round's dst-sum elides its exchange. Whole
    query: exactly ONE shuffle (the one-time |E| repartition — the
    deg/edge-build exchanges happen during the upstream checkpoint
    materialization, invisible here) shipping ≤ |E| records. The
    pre-fix plan shuffled per round: 4 exchanges, 4×|E| records."""
    from pwir_zadanie_4_mapreduce_spark.operators.analytics import (
        graph_pagerank_fixed,
    )

    spark = planned_broadcast_only
    try:
        li = load_table(spark, CORRECTNESS_SF, "lineitem")
        n_edges = 2 * li.select("l_partkey", "l_suppkey").distinct().count()
        df = graph_pagerank_fixed(spark, CORRECTNESS_SF)
        assert len(df.collect()) > 0
        stats = PM.shuffle_stats(df)
        per = PM.per_exchange_records(df)
        # r7 restructure: degree rides the rank broadcast, the bare
        # edge list caches pre-partitioned by dst, and the one-time
        # |E| repartition happens inside the InMemoryRelation build —
        # the measured plan has NO hashpartitioning exchange at all
        # (was 1 in r6, 4 pre-r6)
        assert stats["exchanges"] == 0, (stats, per)
        assert stats["records"] == 0, (stats, n_edges)
    finally:
        # must run even on assertion failure: the cached |E| frame
        # would otherwise leak into later tests in the shared session
        spark.catalog.clearCache()


def test_pack_sequences_shuffles_one_row_per_doc(no_broadcast):
    spark = no_broadcast
    docs = load_table(spark, CORRECTNESS_SF, "documents")
    n_docs = docs.count()
    df = pipeline_pack_sequences(spark, CORRECTNESS_SF)
    out_rows = len(df.collect())
    stats = PM.shuffle_stats(df)
    per = PM.per_exchange_records(df)

    # One row per doc into the per-shard window, one (tiny) range
    # exchange of the packed-sequence result — never more than a
    # couple of passes over doc-count-sized data, and no exchange may
    # exceed one-row-per-doc (a global-sort plan would ship n_docs
    # rows through a SINGLE range exchange in one partition; a
    # token-exploded plan would ship total-token rows and fail (a)).
    assert stats["records"] <= 2 * n_docs + 2 * out_rows, (stats, per)
    assert max(per) <= n_docs, per
    # token counts ride as one long per doc: fixed-width records only
    assert stats["data_size"] / stats["records"] <= 120, stats


def test_basket_lift_reuses_basket_frame(no_broadcast):
    """basket_lift_rules (round-7 rewrite) derives n_orders and
    per-part supports from the checkpointed BASKET frame instead of a
    separate distinct-(order, part) pass: the visible shuffle volume
    is the C(k,2) pair fan-out plus a parts-bounded support rollup —
    a plan that re-introduces the pre-distinct (or a lineitem
    self-join) ships an extra lineitem-sized exchange and fails the
    budget."""
    from pwir_zadanie_4_mapreduce_spark.operators.analytics import basket_lift_rules

    spark = no_broadcast
    li = load_table(spark, CORRECTNESS_SF, "lineitem")
    n_li = li.count()
    k = F.size(F.collect_set("l_partkey"))
    total_pairs = (
        li.groupBy("l_orderkey")
        .agg((k * (k - 1) / 2).alias("p"))
        .agg(F.sum("p"))
        .first()[0]
    )
    n_parts = li.select("l_partkey").distinct().count()
    df = basket_lift_rules(spark, CORRECTNESS_SF)
    out_rows = len(df.collect())
    stats = PM.shuffle_stats(df)
    per = PM.per_exchange_records(df)
    # pair fan-out + parts-bounded freq rollup (partials ≤ parts ×
    # shuffle partitions) + the ordered result; ~half a lineitem of
    # headroom, far under the +n_li an extra distinct pass costs
    budget = 1.1 * total_pairs + 32 * n_parts + out_rows + 0.25 * n_li
    assert stats["records"] <= budget, (stats, per, total_pairs, n_parts)
    assert max(per) <= 1.1 * total_pairs, (per, total_pairs)
    assert out_rows > 0


def test_cc_loop_round_is_shuffle_free(no_broadcast):
    """connected_components (r13 rewrite) claims ZERO shuffle exchanges
    per loop round with the label side broadcast — the graph-round
    layout (functions/graph.py) applied to min-label propagation:
    edges hash-partitioned by v once and cached, the per-round label
    table broadcast onto them, the v-keyed min-label re-aggregation
    riding the cache's partitioning, and the own-label merge a second
    broadcast join. The r12 round shape executed 3 exchanges per round
    (edge join + union agg; measured 1943 records at sf0.1). It runs
    under the no_broadcast fixture with the broadcast side passed in,
    so only ``_cc_round``'s explicit hints can plan a broadcast: a
    round that drops them fails here."""
    from pyspark.sql import functions as F

    from pwir_zadanie_4_mapreduce_spark.functions.graph import VertexSide
    from pwir_zadanie_4_mapreduce_spark.operators.dedup import _cc_round

    spark = no_broadcast
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (8, 9)], "a: long, b: long"
        )
        edges = pairs.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        labels = (
            edges.select(F.col("u").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
            .localCheckpoint()  # like the real loop: labels sit behind a cut
        )
        side = VertexSide(broadcast=True)
        ev = side.edges(edges, join_key="u", group_key="v")  # builds the cache
        out = _cc_round(ev, labels, side)
        rows = out.collect()
        assert {(r["node"], r["label"]) for r in rows} == {
            (1, 1), (2, 1), (3, 2), (5, 5), (6, 5), (8, 8), (9, 8)
        }
        stats = PM.shuffle_stats(out)
        assert stats["exchanges"] == 0, stats
        assert stats["records"] == 0, stats
    finally:
        spark.catalog.clearCache()
