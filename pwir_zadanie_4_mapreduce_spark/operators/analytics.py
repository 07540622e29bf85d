"""Round-2 analytics operators: warehouse maintenance shapes (MERGE
upsert, SCD2 history build), classic SQL idioms (gaps-and-islands,
argmax-per-group, median/mode), product analytics (retention cohorts,
RFM segmentation, interval-overlap join), and LLM-pipeline text/array
ops (TF-IDF, higher-order array functions, mergeable HLL sketches).

Every operator is a pure DataFrame plan (no driver-side loops, no
collect in the hot path) so Catalyst handles pushdown/pruning and the
shapes scale by partitioning alone. The reference
(storaged/PWiR-zadanie-4-MapReduce) contains none of these — they
generalize its map/reduce surface (SURVEY.md §2.1 O5-O8) the same way
the round-1 relational suite does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pwir_zadanie_4_mapreduce_spark.catalog import load_table
from pwir_zadanie_4_mapreduce_spark.functions.rounding import dround
from pwir_zadanie_4_mapreduce_spark.functions.textfn import tokenize
from pwir_zadanie_4_mapreduce_spark.operators.registry import register
from pwir_zadanie_4_mapreduce_spark.functions.graph import VertexSide
from pwir_zadanie_4_mapreduce_spark.functions.lineage import cut_lineage


@register(
    "window_gaps_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        FROM events WHERE user_id < 200),
    num AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS grp
        FROM days)
    SELECT user_id, CAST(MIN(d) AS TIMESTAMP) AS island_start,
           CAST(MAX(d) AS TIMESTAMP) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM num GROUP BY user_id, grp
    HAVING COUNT(*) >= 3
    ORDER BY user_id, island_start
    """,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per
    user (streak detection). The classic row_number trick — a date
    minus its per-user rank is constant within a consecutive run — so
    the whole thing is one window pass + one aggregation, no self-join
    over the date dimension. Scale: both shuffle on user_id; skew is
    bounded by days-per-user, not corpus size."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    num = days.withColumn("grp", F.date_sub("d", F.row_number().over(w)))
    return (
        num.groupBy("user_id", "grp")
        .agg(
            F.min("d").cast("timestamp").alias("island_start"),
            F.max("d").cast("timestamp").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .filter(F.col("n_days") >= 3)
        .select("user_id", "island_start", "island_end", "n_days")
        .orderBy("user_id", "island_start")
    )


@register(
    "agg_median_mode",
    oracle="""
    WITH med AS (
        SELECT l_returnflag, ROUND(median(l_quantity), 4) AS median_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag),
    m AS (
        SELECT l_returnflag, l_linestatus AS mode_status
        FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS c
              FROM lineitem GROUP BY 1, 2)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                   ORDER BY c DESC, l_linestatus) = 1)
    SELECT med.l_returnflag, med.median_qty, med.n, m.mode_status
    FROM med JOIN m USING (l_returnflag)
    ORDER BY l_returnflag
    """,
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + deterministic mode per group. Spark's F.mode breaks
    ties arbitrarily, so the mode is spelled as count + row_number
    with an explicit tie-break (highest count, then lexicographic) —
    the only way the answer is stable cross-run AND cross-engine.
    Median is the exact interpolated percentile; at 100 TB swap in
    approx_percentile (t-digest) — same plan shape, bounded memory."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    med = li.groupBy("l_returnflag").agg(
        dround(F.median("l_quantity"), 4).alias("median_qty"),
        F.count("*").alias("n"),
    )
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), "l_linestatus")
    mode = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_returnflag", F.col("l_linestatus").alias("mode_status"))
    )
    return (
        med.join(mode, "l_returnflag")
        .select("l_returnflag", "median_qty", "n", "mode_status")
        .orderBy("l_returnflag")
    )


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Generic MERGE/upsert: one full-outer join on the key; update
    rows take the batch value, unmatched base rows pass through,
    unmatched batch rows insert. Returns the merged snapshot plus an
    ``action`` audit column.

    At 100 TB this is the Delta/Iceberg MERGE INTO shape executed as a
    plain join: with base bucketed (or z-ordered) on the key, only the
    touched files rewrite; the full-outer join itself shuffles the
    small batch against a pruned base scan. Columns other than the key
    are coalesced batch-first."""
    b, u = base.alias("b"), updates.alias("u")
    cols = [c for c in base.columns if c != key]
    merged = b.join(u, F.col(f"b.{key}") == F.col(f"u.{key}"), "full_outer")
    action = (
        F.when(F.col(f"b.{key}").isNull(), "inserted")
        .when(F.col(f"u.{key}").isNull(), "unchanged")
        .otherwise("updated")
    )
    picked = [F.coalesce(F.col(f"b.{key}"), F.col(f"u.{key}")).alias(key)]
    u_cols = set(updates.columns)
    for c in cols:
        picked.append(
            F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
            if c in u_cols
            else F.col(f"b.{c}").alias(c)
        )
    return merged.select(*picked, action.alias("action"))


@register(
    "merge_upsert_orders",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey, ROUND(o_totalprice * 1.1, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
               o_totalprice
        FROM orders WHERE o_orderkey % 13 = 0),
    merged AS (
        SELECT CASE WHEN b.o_orderkey IS NULL THEN 'inserted'
                    WHEN u.o_orderkey IS NULL THEN 'unchanged'
                    ELSE 'updated' END AS action,
               COALESCE(u.o_totalprice, b.o_totalprice) AS price
        FROM orders b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey)
    SELECT action, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
    FROM merged GROUP BY action ORDER BY action
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO exercised on orders: a synthetic batch updates every
    7th order's price (+10%) and inserts a shifted-key copy of every
    13th; the audit rollup (rows + price checksum per action) verifies
    the merge semantics end-to-end against the oracle's FULL OUTER
    spelling."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    max_key = orders.agg((F.max("o_orderkey") + 1).alias("mk"))
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", dround(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice")
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .crossJoin(F.broadcast(max_key))
        .select((F.col("o_orderkey") + F.col("mk")).alias("o_orderkey"), "o_totalprice")
    )
    merged = merge_upsert(orders, updates.unionByName(inserts), "o_orderkey")
    return (
        merged.groupBy("action")
        .agg(
            F.count("*").alias("n"),
            # fixed-point cents checksum (r11 sf10 catch: the plain
            # double SUM's fold order flipped the 2nd decimal of the
            # ~3.2e12 'unchanged' total); int64 sums are order-free and
            # the raw int64/1e2 quotient is engine-identical at any sf
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
                .cast("double")
                / 100.0
            ).alias("sum_price"),
        )
        .orderBy("action")
    )


@register(
    "scd2_user_value_history",
    oracle="""
    SELECT user_id, event_id AS version_id, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           ROUND(value, 4) AS value,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL AS is_current
    FROM events WHERE user_id < 20
    ORDER BY user_id, valid_from, version_id
    """,
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: each observed (user, value) becomes a
    version row with [valid_from, valid_to) derived from the next
    observation via LEAD — open-ended (NULL) for the current version.
    One window pass, no self-join; the 100 TB version is identical
    with the window partitioned on the natural key (perfectly
    parallel, state bounded by versions-per-key)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.col("event_id").alias("version_id"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            dround(F.col("value"), 4).alias("value"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "version_id")
    )


@register(
    "join_scd2_point_in_time",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id AS version_id, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to,
               ROUND(value, 4) AS value
        FROM events WHERE event_type <> 'purchase'),
    f AS (
        SELECT event_id, user_id, ts
        FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, f.ts, v.version_id,
           v.value AS value_at_purchase
    FROM f JOIN v ON v.user_id = f.user_id
        AND v.valid_from <= f.ts
        AND (v.valid_to IS NULL OR f.ts < v.valid_to)
    ORDER BY f.event_id
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) lookup against an SCD2 dimension: every
    purchase retrieves the user-attribute version that was valid AT
    PURCHASE TIME (versions = the non-purchase event stream run
    through scd2_user_value_history's interval build). This is the
    leakage-free ML feature-backfill join: a training row must see the
    feature value as-of its label timestamp, never a later one — the
    [valid_from, valid_to) residual IS that guarantee, in one query.

    Plan shape: equi-key hash join on the natural key with the
    validity range as a residual filter — never a cross join (the
    join_interval_overlap_events convention). Intervals partition each
    key's timeline, so AT MOST ONE version matches per fact row — the
    join cannot amplify (uniqueness pinned by test). At 100 TB the
    version table is versions-per-key-bounded: broadcast when
    dimension-sized, bucketed by the natural key when not; the fact
    side shuffles only its join columns."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("version_id"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            dround(F.col("value"), 4).alias("value"),
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id").alias("f_user"), F.col("ts").alias("f_ts")
    )
    cond = (
        (versions["user_id"] == facts["f_user"])
        & (versions["valid_from"] <= facts["f_ts"])
        & (versions["valid_to"].isNull() | (facts["f_ts"] < versions["valid_to"]))
    )
    return (
        facts.join(versions, cond)
        .select(
            "event_id",
            "user_id",
            F.col("f_ts").alias("ts"),
            "version_id",
            F.col("value").alias("value_at_purchase"),
        )
        .orderBy("event_id")
    )


@register(
    "agg_argmax_doc_per_source",
    oracle="""
    SELECT source, doc_id, n_chars,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM (SELECT source, doc_id, n_chars,
                 COUNT(*) OVER (PARTITION BY source) AS n_docs,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rk
          FROM documents)
    WHERE rk = 1
    ORDER BY source
    """,
)
def agg_argmax_doc_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-per-group: the longest document per source (tie → lowest
    doc_id). Spelled as a single window pass; max_by would be one
    aggregation cheaper but ties non-deterministically — correctness
    beats the saved pass. At scale the window partitions on source;
    a two-phase (per-partition argmax, then final) rewrite applies if
    a single source dominates."""
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source")
    return (
        docs.withColumn("n_docs", F.count("*").over(w))
        .withColumn(
            "rk", F.row_number().over(w.orderBy(F.desc("n_chars"), "doc_id"))
        )
        .filter(F.col("rk") == 1)
        .select("source", "doc_id", "n_chars", "n_docs")
        .orderBy("source")
    )


@register(
    "array_higher_order_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
           len(list_filter(v, x -> x > 2.0)) > 0 AS any_big,
           len(list_filter(v, x -> abs(x) >= 5.0)) = 0 AS all_small,
           ROUND(list_sum(list_transform(v, x -> abs(x))), 4) AS l1
    FROM (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 200)
    ORDER BY vec_id
    """,
)
def array_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (filter/exists/forall/aggregate)
    over the embedding column — all JVM-side Catalyst lambdas, zero
    Python. The L1 norm folds left-to-right exactly like DuckDB's
    list_sum, so doubles agree bit-for-bit pre-rounding."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    v = F.transform("embedding", lambda x: x.cast("double"))
    prepped = e.select("vec_id", v.alias("v"))
    return (
        prepped.select(
            "vec_id",
            F.size(F.filter("v", lambda x: x > 0)).alias("n_pos"),
            F.exists("v", lambda x: x > 2.0).alias("any_big"),
            F.forall("v", lambda x: F.abs(x) < 5.0).alias("all_small"),
            dround(
                F.aggregate("v", F.lit(0.0), lambda acc, x: acc + F.abs(x)), 4
            ).alias("l1"),
        )
        .orderBy("vec_id")
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH user_weeks AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events),
    cohorts AS (
        SELECT user_id, MIN(wk) AS cohort_week FROM user_weeks GROUP BY user_id)
    SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(datediff('day', c.cohort_week, w.wk) / 7 AS INTEGER)
               AS week_offset,
           COUNT(DISTINCT w.user_id) AS n_users
    FROM user_weeks w JOIN cohorts c USING (user_id)
    WHERE datediff('day', c.cohort_week, w.wk) / 7 <= 8
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-active week;
    n_users still active at each week offset (0-8). Two aggregations
    on user_id (same shuffle key, reused) + one join. The analytics
    staple for any event stream; at 100 TB cohort assignment is a
    once-per-user dimension you'd materialize incrementally rather
    than re-derive (the plan is identical either way)."""
    ev = load_table(spark, sf_dir, "events")
    user_weeks = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    offset = (F.datediff("wk", "cohort_week") / 7).cast("int")
    return (
        user_weeks.join(cohorts, "user_id")
        .select("user_id", "cohort_week", offset.alias("week_offset"))
        .filter(F.col("week_offset") <= 8)
        .groupBy(F.col("cohort_week").cast("timestamp").alias("cohort_week"), F.col("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_rfm_segments",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               datediff('day', CAST(MAX(ts) AS DATE),
                        (SELECT CAST(MAX(ts) AS DATE) FROM events))
                   AS recency_days,
               COUNT(*) AS frequency,
               ROUND(SUM(value), 4) AS monetary
        FROM events GROUP BY user_id)
    SELECT user_id, recency_days, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY recency_days, user_id) AS INTEGER) AS r_q,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) AS f_q,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS INTEGER) AS m_q
    FROM per_user ORDER BY user_id
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency/frequency/monetary, each
    quartiled by NTILE with a user_id tie-break (the tie-break is what
    makes quartile membership deterministic cross-engine). The three
    global windows are unpartitioned — fine for per-user rollups
    (users ≪ events); at true scale NTILE over a global order becomes
    bucket assignment over pre-aggregated boundaries — IMPLEMENTED as
    events_rfm_segments_binned (operators/binned.py)."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.to_date(F.max("ts")).alias("ref_d"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.to_date(F.max("ts")).alias("last_d"),
            F.count("*").alias("frequency"),
            dround(F.sum("value"), 4).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.datediff("ref_d", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(Window.orderBy("recency_days", "user_id")).alias("r_q"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), "user_id")).alias("f_q"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), "user_id")).alias("m_q"),
    ).orderBy("user_id")


@register(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
        FROM documents),
    toks_f AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks_f GROUP BY doc_id, term),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           ROUND(tf * ln(n_docs / CAST(df AS DOUBLE)), 4) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE doc_id < 30
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id
        ORDER BY ROUND(tf * ln(n_docs / CAST(df AS DOUBLE)), 4) DESC, term) <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (docs 0-29; document frequency
    computed over the FULL corpus). Inverted-index shape: explode
    tokens → tf per (doc, term) → df per term → join back. The ranking
    orders by the ROUNDED score so cross-engine ln() ULP noise can't
    flip near-ties; term is the final tie-break. At 100 TB the df
    table is the only corpus-global state — small (vocab-sized),
    broadcastable."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    # r12 optimization round (guide §7.2): tf feeds BOTH the corpus df
    # aggregation and the scored probe side — without a checkpoint the
    # tokenize + explode + (doc, term) agg planned twice. Re-measured
    # at sf0.1, local[4] on a 4-core host (tools/probe.py --ref, two
    # sets of 10 rounds): median with the cut 1.285 / 1.457 s, without
    # it 1.418 / 1.524 s, so the cut stays.
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).transform(cut_lineage)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    tfidf = dround(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double")), 4
    )
    scored = (
        tf.filter(F.col("doc_id") < 30)
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", tfidf.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


@register(
    "join_interval_overlap_events",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(COUNT(l.l_linenumber) AS BIGINT) AS n_shipped,
           ROUND(COUNT(l.l_linenumber) /
                 CAST(COUNT(DISTINCT o.o_orderkey) AS DOUBLE), 4)
               AS shipped_per_order
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
    WHERE o.o_custkey < 100
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def join_interval_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: lineitems shipping inside their order's
    first 60 days (equi key on the orderkey + time-range residual),
    rolled up per priority — the fulfilment-SLA scan. The equi
    component keeps this a hash join with a range residual — NOT a
    cross join; at 100 TB both sides partition on the key and the
    range predicate evaluates within partitions. (Banded
    time-bucketing — join_range_binned — is the refinement when there
    is NO equi key to hang the join on.)

    (Round-5 realignment: this op previously ranged order dates
    (1995-2001) against event timestamps (2024) — zero overlaps, all
    counts zero, vacuously green oracle. Same plan shape on
    date-compatible tables now; LEFT keeps slow orders with no
    in-window shipment visible as zero.)"""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    items = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linenumber"
    )
    cond = (
        (items.l_orderkey == orders.o_orderkey)
        & (items.l_shipdate >= orders.o_orderdate)
        & (items.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
    )
    joined = orders.join(items, cond, "left")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count("l_linenumber").alias("n_shipped"),
            dround(
                F.count("l_linenumber") / F.countDistinct("o_orderkey").cast("double"), 4
            ).alias("shipped_per_order"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_hll_sketch_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
             <= COUNT(DISTINCT user_id) * 0.05 AS est_in_band
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — THE 100 TB cardinality
    pattern: one HLL sketch per (event_type, day) partition, merged
    per type with hll_union_agg, estimated once. Re-aggregating
    pre-computed daily sketches replaces a full re-scan.

    Bracket oracle: the Datasketches estimate has no DuckDB twin, so
    the query emits the EXACT distinct (hash-compared cross-engine)
    plus a boolean asserting the merged-sketch estimate lands within
    5 % (lgK=12 ≈ 1.6 % RSE, so >3σ; measured ≤1.5 % at sf0.001–sf1 —
    deterministic for fixed data). The oracle's boolean is DuckDB's
    OWN HLL (approx_count_distinct) run through the identical band
    check — both engines attest their sketch is in band, and neither
    column is a literal (round-9: the registry-wide no-constant-oracle
    rule)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= F.col("exact_users").cast("double") * F.lit(0.05)
            ).alias("est_in_band"),
        )
        .orderBy("event_type")
    )


BASKET_MIN_SUPPORT = 3


@register(
    "basket_part_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2)
    SELECT part_a, part_b, support
    FROM pairs WHERE support >= {BASKET_MIN_SUPPORT}
    ORDER BY support DESC, part_a, part_b
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in at
    least BASKET_MIN_SUPPORT=3 orders — the association-mining primitive
    (the A-priori first pass). Baskets assemble with ONE shuffle
    (collect_set is the distinct), then the C(k,2) pair fan-out runs
    JVM-side inside a Catalyst lambda — no (order, part) self-join.
    Fan-out per order is C(items_per_order, 2) — bounded by basket
    size (≤13 here), the analogue of the shingle df bound; at 100 TB
    prune first by per-part frequency (the A-priori trick) before
    pairing."""
    # One shuffle to assemble each basket (collect_set is the distinct),
    # then the C(k,2) pair fan-out happens JVM-side inside a Catalyst
    # lambda — no self-join, no second scan of lineitem. The sorted set
    # makes part_a < part_b by construction.
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
        .orderBy(F.desc("support"), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# Data-quality expectations, aggregate function surface, fixed-point PageRank
# ---------------------------------------------------------------------------

EXPECTATION_RULES = [
    # (rule name, Spark Column predicate is built in the operator;
    #  SQL predicate string used verbatim in the oracle)
    ("qty_le_45", "l_quantity <= 45"),
    ("discount_le_0_08", "l_discount <= 0.08"),
    ("price_positive", "l_extendedprice > 0"),
    ("shipdate_lt_2001", "l_shipdate < TIMESTAMP '2001-01-01'"),
    ("returnflag_domain", "l_returnflag IN ('R', 'A', 'N')"),
]


@register(
    "quality_observe_metrics",
    oracle="""
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE o_totalprice > 300000.0)
                    AS BIGINT) AS n_big,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 100.0
                 AS sum_price
        FROM orders),
    g AS (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
                 AS n_status_groups FROM orders)
    SELECT n_rows, n_big, sum_price, n_status_groups FROM m CROSS JOIN g
    """,
)
def quality_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.observe() — metrics that PIGGYBACK on a job instead of
    costing a pass: an Observation attaches named aggregate
    expressions to the scan (a CollectMetrics node), the real query (a
    per-status rollup here) runs as usual, and the metrics are
    harvested from the SAME execution. At 100 TB this is how
    row-count/null-rate/freshness audits ship with every production
    job for free — quality_expectations is the standalone one-pass
    audit; this is the zero-pass one. The observed values are exact
    (full-data aggregates, not samples), so the oracle recomputes them
    relationally; the driving job's group count rides along to prove a
    real query executed. The action is collected in-op (bounded: one
    row per order status) because observation results only exist after
    an action — the returned frame is the bounded metrics row, the
    laplace-style driver-side assembly contract."""
    from pyspark.sql import Observation

    obs = Observation("audit")
    orders = load_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice") > 300000.0).alias("n_big"),
        # fixed-point cents sum: order-independent (see join_range_binned);
        # no final ROUND — raw int64/1e2 quotient (r10 sf10 class)
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))) / 100.0
        ).alias("sum_price"),
    )
    rollup = orders.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    n_groups = len(rollup.collect())  # the action that populates obs
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_big"], m["sum_price"], n_groups)],
        "n_rows bigint, n_big bigint, sum_price double, n_status_groups bigint",
    )


@register(
    "quality_expectations",
    oracle=f"""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {", ".join(
                   f'CAST(COUNT(*) FILTER (WHERE NOT ({pred})) AS BIGINT) AS "{name}"'
                   for name, pred in EXPECTATION_RULES
               )}
        FROM lineitem)
    SELECT rule, n_violations, n_rows,
           ROUND(n_violations / CAST(n_rows AS DOUBLE), 4) AS viol_rate
    FROM (SELECT n_rows, {", ".join(f'"{n}"' for n, _ in EXPECTATION_RULES)} FROM agg)
    UNPIVOT (n_violations FOR rule IN ({", ".join(f'"{n}"' for n, _ in EXPECTATION_RULES)}))
    ORDER BY rule
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ / dbt-test
    shape): each rule is a row predicate; the operator reports
    violation counts and rates per rule in ONE pass over the table —
    plan width (one conditional count per rule), not pass count, is
    what grows with the rule set. The wide 1-row aggregate is then
    unpivoted to the (rule, n_violations) audit shape.

    100 TB: a rule suite of hundreds still costs a single scan +
    6-byte-per-rule partial aggregates; contrast with one-query-per-
    rule frameworks that rescan per rule.
    """
    li = load_table(spark, sf_dir, "lineitem")
    preds = {
        "qty_le_45": F.col("l_quantity") <= 45,
        "discount_le_0_08": F.col("l_discount") <= 0.08,
        "price_positive": F.col("l_extendedprice") > 0,
        "shipdate_lt_2001": F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"),
        "returnflag_domain": F.col("l_returnflag").isin("R", "A", "N"),
    }
    wide = li.agg(
        F.count("*").alias("n_rows"),
        *[
            F.count_if(~pred).alias(name)
            for name, pred in preds.items()
        ],
    )
    long = wide.unpivot(
        ids=["n_rows"],
        values=[n for n, _ in EXPECTATION_RULES],
        variableColumnName="rule",
        valueColumnName="n_violations",
    )
    return long.select(
        "rule",
        "n_violations",
        "n_rows",
        dround(F.col("n_violations") / F.col("n_rows").cast("double"), 4).alias(
            "viol_rate"
        ),
    ).orderBy("rule")


@register(
    "agg_bitops_countif",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT) AS n_hi,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 450) AS any_huge,
           CAST(bit_and(user_id) AS BIGINT) AS users_band,
           CAST(bit_or(user_id) AS BIGINT) AS users_bor,
           CAST(bit_xor(user_id) AS BIGINT) AS users_bxor
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_bitops_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-function surface: conditional count (count_if),
    boolean reducers (bool_and/bool_or), and bitwise aggregates
    (bit_and/bit_or/bit_xor) — all partial-aggregable single-pass
    reducers (the O8 max-reduce of the reference, laplace-par.c:504,
    generalized to other monoids). bit_xor is the parity check used
    in checksum-style integrity audits; all six compute in the same
    hash-aggregate as the plain count.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("value") > 100).alias("n_hi"),
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.bool_or(F.col("value") > 450).alias("any_huge"),
            F.bit_and("user_id").alias("users_band"),
            F.bit_or("user_id").alias("users_bor"),
            F.bit_xor("user_id").alias("users_bxor"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_percentile_disc",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_disc(o_totalprice, 0.5), 4) AS p50_disc,
           ROUND(quantile_disc(o_totalprice, 0.9), 4) AS p90_disc,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_cont
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (percentile_disc WITHIN GROUP): returns an
    actual data value — the right spelling for latency SLOs and any
    domain where interpolated values are meaningless. Contrasted with
    the continuous (interpolating) median in the same aggregate.
    Cross-engine note: disc values are exact data points so they
    hash-match bit-for-bit; only the interpolated cont value needs
    the shared rounding."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            dround(
                F.expr(
                    "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
                ),
                4,
            ).alias("p50_disc"),
            dround(
                F.expr(
                    "percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
                ),
                4,
            ).alias("p90_disc"),
            dround(
                F.expr(
                    "percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
                ),
                4,
            ).alias("p50_cont"),
        )
        .orderBy("o_orderpriority")
    )


PAGERANK_ITERS = 3
PAGERANK_SCALE = 1_000_000_000_000  # ranks in units of 1e-12


LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """DuckDB mirror of graph_label_propagation: the co-purchase edge
    CTE (basket_part_pairs' oracle) + LPA_ROUNDS unrolled synchronous
    label updates (weighted mode, ties to the lowest label)."""
    from pwir_zadanie_4_mapreduce_spark.operators.analytics import BASKET_MIN_SUPPORT

    ctes = [
        """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        f"""pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {BASKET_MIN_SUPPORT})""",
        """edges AS (SELECT part_a AS u, part_b AS v, support FROM pairs
                 UNION ALL
                 SELECT part_b, part_a, support FROM pairs)""",
        """l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges)""",
    ]
    for r in range(1, LPA_ROUNDS + 1):
        ctes.append(f"""l{r} AS (
        SELECT e.u AS node, l.label
        FROM edges e JOIN l{r - 1} l ON l.node = e.v
        GROUP BY e.u, l.label
        QUALIFY ROW_NUMBER() OVER (PARTITION BY e.u
            ORDER BY SUM(e.support) DESC, l.label) = 1)""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS part, label AS community
    FROM l{LPA_ROUNDS} ORDER BY part
    """
    )


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation communities over the co-purchase
    graph (edges = part pairs bought together in >= 3 orders, weight =
    support): LPA_ROUNDS synchronous rounds, each node adopting the
    label with the highest incident support sum (ties to the lowest
    label) — the communities primitive complementing components (pure
    connectivity) and pagerank (centrality). Fully deterministic:
    integer weights, explicit tie-break, synchronous updates — so the
    oracle re-runs all rounds verbatim (the unrolled-CTE device the
    sampled-IVF training mirror established).

    Plan: one basket shuffle builds edges (collect_set fan-out, no
    self-join), then each round is join + two integer aggregations on
    the graph-round layout (functions/graph.py) — no Window. The
    LPA_ROUNDS rounds run as one plan, like pagerank's: no lineage
    cut, since the edges' only reader is their cache, and the
    per-round cuts measured neutral (sf0.1, local[4]: 2.72 s median
    per query with cuts, 2.81 s without) while running 10 extra jobs
    during the build. At 100 TB rounds are edge-partitioned joins
    against an id→label frame: O(E) shuffle of ids and labels only,
    never payloads."""
    pairs = basket_part_pairs(spark, sf_dir).select("part_a", "part_b", "support")
    # r12 optimization round (guide §7.2): symmetrization used to be a
    # unionAll of two selects over `pairs`, which ran the full
    # basket-assembly pass TWICE inside the edge materialization. One
    # explode emits both orientations per pair in a single basket pass.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("part_a").alias("u"), F.col("part_b").alias("v"), "support"),
                F.struct(F.col("part_b").alias("u"), F.col("part_a").alias("v"), "support"),
            )
        ).alias("x")
    ).select("x.u", "x.v", "x.support")
    # with the labels broadcast, the (u, label) vote and the per-u
    # argmin both ride the cache's hashpartitioning(u), which satisfies
    # ClusteredDistribution([u, label])
    side = VertexSide.of(edges.select(F.col("u").alias("node")).distinct())
    ev = side.edges(edges, join_key="v", group_key="u")
    labels = ev.select(F.col("u").alias("node")).distinct().withColumn("label", F.col("node"))
    for _ in range(LPA_ROUNDS):
        nb = ev.join(side(labels), ev["v"] == labels["node"]).select("u", "label", "support")
        votes = nb.groupBy("u", "label").agg(F.sum("support").alias("w"))
        labels = (
            votes.groupBy("u")
            .agg(F.min(F.struct((-F.col("w")).alias("nw"), F.col("label"))).alias("s"))
            .select(F.col("u").alias("node"), F.col("s.label").alias("label"))
        )
    return labels.select(
        F.col("node").alias("part"), F.col("label").alias("community")
    ).orderBy("part")


@register(
    "graph_pagerank_fixed",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    edges AS (
        SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM pairs),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST({PAGERANK_SCALE} AS BIGINT) AS r FROM deg),
    r1 AS (
        SELECT e.dst AS node,
               CAST({PAGERANK_SCALE} * 15 // 100
                    + 85 * SUM(r.r // d.odeg) // 100 AS BIGINT) AS r
        FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst),
    r2 AS (
        SELECT e.dst AS node,
               CAST({PAGERANK_SCALE} * 15 // 100
                    + 85 * SUM(r.r // d.odeg) // 100 AS BIGINT) AS r
        FROM edges e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst),
    r3 AS (
        SELECT e.dst AS node,
               CAST({PAGERANK_SCALE} * 15 // 100
                    + 85 * SUM(r.r // d.odeg) // 100 AS BIGINT) AS r
        FROM edges e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst)
    SELECT node, r AS rank_fp FROM r3 ORDER BY rank_fp DESC, node LIMIT 50
    """,
)
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (PAGERANK_ITERS=3 unrolled rounds, damping 0.85) over
    the part<->supplier co-shipment graph, in FIXED-POINT integer
    arithmetic: ranks are bigints in units of 1e-12, contributions use
    integer division — bit-identical across engines and cluster sizes
    (float PageRank differs in last ULPs with summation order, which
    would break both the oracle hash and run-to-run reproducibility).

    Graph shape: bipartite part/supplier nodes (ids disambiguated
    even/odd), symmetrized edges, so no dangling nodes by
    construction. Each round is one join (rank onto edge source) +
    one groupBy (sum onto destination) — the standard vertex-centric
    plan; out-degrees are joined once from a tiny static frame.

    100 TB: the rounds run on the graph-round layout
    (functions/graph.py): edges cached once, the |V|-row rank table
    (with its out-degree) broadcast onto them when ``deg``'s size
    allows, and zero shuffle exchanges inside the loop
    (test_shuffle_volume pins it) — GraphX's partitioned-edges +
    broadcast-vertices layout. The fixed iteration count (vs a
    convergence test) keeps the plan fully unrolled and lets AQE size
    every stage.
    """
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    fwd = pairs.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).transform(cut_lineage)
    # Node degrees WITHOUT a pass over the doubled edge list: the graph
    # is bipartite, so a part node's degree is its fwd.src count and a
    # supplier node's its fwd.dst count — two aggs over |E|/2 rows,
    # checkpointed at |V| (tiny). The round-6 spelling aggregated AND
    # joined the 2|E| symmetrized list, then cached a 3-column frame;
    # keeping degree OFF the cached edges (it rides the per-round rank
    # broadcast instead) measured sf1 setup 13.7 s → 6.6 s and the
    # whole query 8.1 s → ~5 s min-of-2.
    degS = fwd.groupBy("src").agg(F.count("*").alias("odeg"))
    degD = (
        fwd.groupBy("dst").agg(F.count("*").alias("odeg")).withColumnRenamed("dst", "src")
    )
    deg = degS.unionByName(degD).transform(cut_lineage)
    edges = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    side = VertexSide.of(deg)
    edeg = side.edges(edges, join_key="src", group_key="dst")
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(PAGERANK_SCALE).cast("bigint").alias("r")
    )
    base = F.lit(PAGERANK_SCALE * 15).cast("bigint") / F.lit(100)
    for _ in range(PAGERANK_ITERS):
        rside = ranks.withColumnRenamed("node", "src").join(side(deg), "src")
        contrib = edeg.join(side(rside), "src").select("dst", F.expr("r div odeg").alias("c"))
        ranks = (
            contrib.groupBy("dst")
            .agg((F.floor(base) + F.expr("85 * sum(c) div 100")).cast("bigint").alias("r"))
            .withColumnRenamed("dst", "node")
        )
    return (
        ranks.select("node", F.col("r").alias("rank_fp"))
        .orderBy(F.desc("rank_fp"), "node")
        .limit(50)
    )


@register(
    "window_running_distinct_users",
    oracle="""
    WITH firsts AS (
        SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS d
        FROM events GROUP BY event_type, user_id),
    news AS (
        SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY event_type, d)
    SELECT event_type, CAST(d AS TIMESTAMP) AS d, n_new,
           CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY d
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS running_distinct_users
    FROM news ORDER BY event_type, d
    """,
)
def window_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — not directly
    expressible as a window aggregate in any engine; the standard
    rewrite counts each user on their FIRST day (per key) and takes a
    running sum of the first-appearance counts. Two hash aggregates +
    one window pass, all partial-aggregable; the distinct state never
    materializes per row the way a naive windowed set would.
    100 TB: this is the cardinality-curve query behind "DAU/WAU
    growth" dashboards; the first-appearance trick is what makes it
    one shuffle per agg instead of a per-row set union."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("d")
    )
    news = firsts.groupBy("event_type", "d").agg(F.count("*").alias("n_new"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return news.select(
        "event_type",
        F.col("d").cast("timestamp").alias("d"),
        "n_new",
        F.sum("n_new").over(w).alias("running_distinct_users"),
    ).orderBy("event_type", "d")


@register(
    "agg_hll_intersection",
    oracle="""
    WITH ab AS (SELECT event_type, user_id FROM events
                WHERE event_type IN ('click', 'purchase')),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
           FROM (SELECT user_id FROM ab GROUP BY user_id
                 HAVING COUNT(DISTINCT event_type) = 2)),
    -- DuckDB's own HLL through the same inclusion-exclusion estimate:
    -- |A∩B| ~ |A| + |B| - |A∪B|, every term approx_count_distinct —
    -- the identical 10% band check, computed, not a literal
    est AS (SELECT (SELECT approx_count_distinct(user_id) FROM ab
                    WHERE event_type = 'click')
                 + (SELECT approx_count_distinct(user_id) FROM ab
                    WHERE event_type = 'purchase')
                 - approx_count_distinct(user_id) AS est_inter FROM ab)
    SELECT exact_intersection,
           ABS(est_inter - exact_intersection)
             <= exact_intersection * 0.10 AS est_in_band
    FROM ex CROSS JOIN est
    """,
)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from MERGEABLE sketches: distinct
    users doing 'click' AND 'purchase' estimated by inclusion-
    exclusion — |A∩B| ≈ |A| + |B| − |A∪B| — where every term is an
    HLL estimate and the union comes from hll_union of the two
    per-type sketches, NOT a re-scan.

    Bracket oracle: the estimate has no DuckDB twin, so the query
    emits the EXACT intersection plus a boolean asserting the
    inclusion-exclusion estimate lands within 10 % (compounds the
    ~1.6 % RSE of three estimates; measured ≤1.5 % at sf0.001–sf1 —
    deterministic for fixed data). The oracle runs DuckDB's own HLL
    through the same inclusion-exclusion + band check, so neither
    engine's column is a literal.

    100 TB note: this is why sketch stores exist — any pairwise
    overlap across pre-computed per-segment sketches is answerable in
    sketch space (KB), where exact intersection would shuffle the
    distinct pairs of both segments. Inclusion-exclusion error grows
    when the intersection is small relative to the sets; the audit
    column quantifies it."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.filter(F.col("event_type").isin("click", "purchase")).groupBy(
        "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"), F.countDistinct("user_id").alias("exact_n"))
    est = sk.agg(
        F.sum(F.hll_sketch_estimate(F.col("sk"))).alias("sum_each"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union"),
    )
    exact_inter = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("k"))
        .filter(F.col("k") == 2)
        .agg(F.count("*").alias("exact_intersection"))
    )
    return (
        est.crossJoin(F.broadcast(exact_inter))
        .select(
            "exact_intersection",
            (
                F.abs(
                    (F.col("sum_each") - F.col("est_union"))
                    - F.col("exact_intersection")
                )
                <= F.col("exact_intersection").cast("double") * F.lit(0.10)
            ).alias("est_in_band"),
        )
    )


ATTRIB_WINDOW_DAYS = 7


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id,
           ROUND(p.value, 4) AS value,
           c.click_id AS attributed_click_id
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
    WHERE p.purchase_ts - INTERVAL {ATTRIB_WINDOW_DAYS} DAY <= COALESCE(c.click_ts, p.purchase_ts)
    ORDER BY p.purchase_id
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    most recent click within a 7-day lookback — the marketing-
    analytics as-of variant with a recency bound. Same union+window
    single-shuffle plan as join_asof_last_click_before_purchase; the
    lookback is a post-filter on the carried-forward click timestamp
    (purchases whose last click is older than the window are dropped,
    matching the oracle's WHERE on the ASOF result).

    100 TB note: ONE shuffle on (user, ts); per-user state is one
    carried row. The naive 'join clicks within 7 days then take max'
    materializes every (purchase × recent click) pair first."""
    ev = load_table(spark, sf_dir, "events")
    # r13 optimization round (guide §7.2): one isin-filtered scan with
    # conditional columns instead of a unionByName of two filtered
    # scans — identical row set, half the scan work (same rewrite as
    # join_asof_last_click_before_purchase, −32 % there).
    is_purchase = F.col("event_type") == "purchase"
    merged = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        F.col("user_id").alias("key"),
        "ts",
        F.when(is_purchase, 1).otherwise(0).alias("side"),
        F.when(is_purchase, F.col("event_id")).alias("purchase_id"),
        F.when(is_purchase, F.col("value")).alias("value"),
        F.when(~is_purchase, F.col("event_id")).alias("click_id"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "side", "click_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        merged
        .withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .withColumn(
            "last_click_ts",
            F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True).over(w),
        )
    )
    return (
        merged.filter(F.col("side") == 1)
        .filter(
            F.col("ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW_DAYS} DAYS")
            <= F.coalesce(F.col("last_click_ts"), F.col("ts"))
        )
        .select(
            "purchase_id",
            dround(F.col("value"), 4).alias("value"),
            F.col("last_click_id").alias("attributed_click_id"),
        )
        .orderBy("purchase_id")
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, CAST(c AS BIGINT) AS n,
           ROUND(c::DOUBLE / SUM(c) OVER (PARTITION BY prev_type), 4) AS p
    FROM trans
    ORDER BY prev_type, next_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous) — the behavioral model
    behind journey analysis and synthetic-session generation, and the
    matrix form of events_session_paths' path mining.

    One lag window per user + one aggregation; the row-normalization
    window runs over the |types|² transition table, not the events.
    100 TB note: the transition matrix is types²-bounded — after the
    first aggregation everything is metadata-scale."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    wnorm = Window.partitionBy("prev_type")
    return (
        trans.select(
            "prev_type",
            "next_type",
            "n",
            dround(F.col("n").cast("double") / F.sum("n").over(wnorm), 4).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


MV_BUMP_MOD = 97  # orders with key % 97 == 0 form the simulated delta batch


@register(
    "warehouse_incremental_mv",
    oracle=f"""
    WITH updated AS (
      SELECT o_orderpriority,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             CASE WHEN o_orderkey % {MV_BUMP_MOD} = 0
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT o_orderpriority, m,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue
    FROM updated GROUP BY o_orderpriority, m
    ORDER BY o_orderpriority, m
    """,
)
def warehouse_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a revenue-by-
    (priority, month) MV is refreshed after a delta batch (simulated
    10% price bump on keys ≡ 0 mod {MV_BUMP_MOD}) by recomputing ONLY
    the groups the delta touches and carrying every other group
    forward from the stale MV — the refresh algorithm behind
    continuous aggregates and warehouse MVs. The ORACLE is the full
    recompute over the updated table: the hash-match IS the proof the
    incremental plan loses nothing.

    Plan: stale MV (one agg) anti-joined to the delta's affected-group
    set (tiny, broadcast) keeps untouched groups without rescanning
    their rows; affected groups recompute from the updated base with
    the group predicate semi-joined down. 100 TB note: refresh cost is
    O(affected partition data + MV size), not O(history) — with the
    base partitioned by month the recompute scan prunes at the source,
    which is why MV grain should include the partition column."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        "o_totalprice",
    )
    is_delta = F.col("o_orderkey") % MV_BUMP_MOD == 0
    updated = orders.withColumn(
        "price", F.when(is_delta, F.col("o_totalprice") * 1.1).otherwise(F.col("o_totalprice"))
    )
    # the stale MV, as it existed before the delta arrived.
    # Revenue state is fixed-point CENTS (r11 sf10 catch: the ~1e10
    # double group sums flipped the 4th decimal on fold order) — and
    # integer MV state is also the right call operationally: carried +
    # recomputed cents stay exact under any merge order.
    cents_base = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    stale_mv = orders.groupBy("o_orderpriority", "m").agg(
        F.count("*").alias("n_orders"), F.sum(cents_base).alias("rev_c")
    )
    # groups the delta batch touches — delta-batch-sized, broadcast
    affected = (
        updated.filter(is_delta).select("o_orderpriority", "m").distinct()
    ).transform(cut_lineage)
    carried = stale_mv.join(
        F.broadcast(affected), ["o_orderpriority", "m"], "left_anti"
    )
    cents_new = F.floor(F.col("price") * 100 + F.lit(0.5))
    recomputed = (
        updated.join(F.broadcast(affected), ["o_orderpriority", "m"], "left_semi")
        .groupBy("o_orderpriority", "m")
        .agg(F.count("*").alias("n_orders"), F.sum(cents_new).alias("rev_c"))
    )
    return (
        carried.unionByName(recomputed)
        .select(
            "o_orderpriority",
            "m",
            "n_orders",
            (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("o_orderpriority", "m")
    )


@register(
    "events_conversion_within_hour",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    converters AS (
      SELECT DISTINCT c.user_id
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM clicks) AS BIGINT) AS n_clickers,
           CAST((SELECT COUNT(*) FROM converters) AS BIGINT)           AS n_converted,
           ROUND((SELECT COUNT(*) FROM converters)::DOUBLE
                 / (SELECT COUNT(DISTINCT user_id) FROM clicks), 4)    AS conversion_rate
    """,
)
def events_conversion_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion rate: users with a purchase within ONE
    HOUR of a click — the windowed funnel metric (the lifetime funnel
    and last-touch attribution cover the unbounded variants). The
    interval predicate rides the user-key equi join, so this is a hash
    join with a range residual — never a time cross join.

    100 TB note: identical profile to join_interval_overlap_events —
    the equi key bounds pair fan-out to each user's own click×purchase
    pairs, and the semi-join form stops at the first qualifying pair
    per user."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converters = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("ts"))
            & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
            "left_semi",
        )
        .select("user_id")
        .distinct()
        .agg(F.count("*").alias("n_converted"))
    )
    clickers = clicks.agg(F.countDistinct("user_id").alias("n_clickers"))
    return (
        clickers.crossJoin(F.broadcast(converters))
        .select(
            "n_clickers",
            "n_converted",
            dround(
                F.col("n_converted").cast("double") / F.col("n_clickers"), 4
            ).alias("conversion_rate"),
        )
    )


@register(
    "timeseries_seasonal_residuals",
    oracle="""
    WITH keyed AS (
      SELECT event_id, value,
             CAST((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7
                 AS INTEGER) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour
      FROM events
    ),
    baseline AS (
      SELECT dow, hour, AVG(value) AS mu, stddev_samp(value) AS sigma
      FROM keyed GROUP BY dow, hour
    )
    SELECT k.event_id,
           ROUND(k.value, 4) AS value,
           ROUND((k.value - b.mu) / b.sigma, 4) AS seasonal_z
    FROM keyed k JOIN baseline b USING (dow, hour)
    WHERE b.sigma > 0 AND abs((k.value - b.mu) / b.sigma) > 3.5
    ORDER BY k.event_id
    """,
)
def timeseries_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: each event scored against
    the (day-of-week, hour) baseline — 'high for this metric' and
    'high for 3 AM Sunday' are different questions, which is why this
    detector and the trailing-window z-score
    (timeseries_anomaly_zscore) run side by side in practice.

    The baseline is the 7×24 heatmap (one aggregation, broadcast
    back); scoring is a map-side join — no window at all, so unlike
    the trailing detector this one is embarrassingly parallel. At
    100 TB the baseline comes from the incrementally-maintained
    heatmap rollup (warehouse_incremental_mv pattern)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    dow = (
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) + 4) % 7
    ).cast("int")
    keyed = ev.select(
        "event_id", "value", dow.alias("dow"), F.hour("ts").alias("hour")
    )
    keyed = keyed.transform(cut_lineage)  # baseline + scoring reuse it
    baseline = keyed.groupBy("dow", "hour").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        keyed.join(F.broadcast(baseline), ["dow", "hour"])
        .filter((F.col("sigma") > 0) & (F.abs(z) > 3.5))
        .select(
            "event_id",
            dround(F.col("value"), 4).alias("value"),
            dround(z, 4).alias("seasonal_z"),
        )
        .orderBy("event_id")
    )


@register(
    "events_bounce_rate",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP))
                         - epoch_ms(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
                         > 1800000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events),
    sessions AS (
        SELECT user_id,
               SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps),
    per_session AS (
        SELECT user_id, session_id, COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (n_events = 1) AS BIGINT) AS n_bounces,
           ROUND(COUNT(*) FILTER (n_events = 1)::DOUBLE / COUNT(*), 4) AS bounce_rate
    FROM per_session
    """,
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate: single-event sessions over total sessions, built on
    the SAME 30-minute-gap sessionization as events_sessionization —
    the canonical engagement KPI, demonstrating that session ids
    compose into downstream aggregates.

    Plan: gap flag (lag window) → running-sum session ids → per-session
    counts → one global conditional aggregate; everything partitions
    by user until the final three-number rollup."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    worder = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(worder)
    is_new = (
        prev_ts.isNull()
        | ((F.unix_millis("ts") - F.unix_millis(prev_ts)) > 1_800_000)
    ).cast("int")
    wrun = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sessions = ev.select(
        "user_id", F.sum(is_new).over(wrun).alias("session_id")
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
        dround(
            F.count(F.when(F.col("n_events") == 1, 1)).cast("double") / F.count("*"),
            4,
        ).alias("bounce_rate"),
    )


@register(
    "events_cohort_ltv_curve",
    oracle="""
    WITH user_weeks AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events),
    cohorts AS (
        SELECT user_id, MIN(wk) AS cohort_week FROM user_weeks GROUP BY user_id),
    weekly_rev AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
               SUM(value) AS rev
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, wk),
    curve AS (
        SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
               CAST(datediff('day', c.cohort_week, r.wk) / 7 AS INTEGER) AS week_offset,
               SUM(r.rev) AS rev
        FROM weekly_rev r JOIN cohorts c USING (user_id)
        WHERE datediff('day', c.cohort_week, r.wk) / 7 <= 8
        GROUP BY 1, 2)
    SELECT cohort_week, week_offset,
           ROUND(SUM(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS cum_revenue
    FROM curve ORDER BY cohort_week, week_offset
    """,
)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per
    signup cohort across week offsets — the LTV payback chart, built
    on the SAME cohort assignment as events_retention_cohorts (at
    scale the materialized user→cohort dimension serves both).

    Weekly revenue and cohort assignment are two aggregations on the
    user_id shuffle key; the running-sum window runs over the
    cohort×offset curve table (≤ cohorts×9 rows)."""
    ev = load_table(spark, sf_dir, "events")
    user_weeks = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    weekly_rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk"))
        .agg(F.sum("value").alias("rev"))
    )
    offset = (F.datediff("wk", "cohort_week") / 7).cast("int")
    curve = (
        weekly_rev.join(cohorts, "user_id")
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            offset.alias("week_offset"),
            "rev",
        )
        .filter(F.col("week_offset") <= 8)
        .groupBy("cohort_week", "week_offset")
        .agg(F.sum("rev").alias("rev"))
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        curve.select(
            "cohort_week",
            "week_offset",
            dround(F.sum("rev").over(wcum), 4).alias("cum_revenue"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_session_duration_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP))
                         - epoch_ms(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
                         > 1800000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events),
    sessions AS (
        SELECT user_id, ts,
               SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps),
    durations AS (
        SELECT user_id, session_id,
               epoch_ms(CAST(MAX(ts) AS TIMESTAMP))
                   - epoch_ms(CAST(MIN(ts) AS TIMESTAMP)) AS dur_ms,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(AVG(dur_ms) / 1000.0, 4) AS mean_duration_s,
           ROUND(quantile_cont(dur_ms, 0.5) / 1000.0, 4) AS p50_duration_s,
           ROUND(quantile_cont(dur_ms, 0.9) / 1000.0, 4) AS p90_duration_s,
           ROUND(AVG(n_events), 4) AS mean_events_per_session
    FROM durations WHERE n_events > 1
    """,
)
def events_session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution (mean / p50 / p90 seconds, plus
    events-per-session) over the shared 30-minute sessionization,
    single-event sessions excluded (their duration is 0 by
    construction and belongs to the bounce-rate metric) — the
    engagement-depth KPI beside events_bounce_rate.

    Per-session rollup shuffles one row per session; the percentile
    runs over the sessions table (exact here; approx_percentile is
    the documented unbounded-cardinality path)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    worder = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(worder)
    is_new = (
        prev_ts.isNull()
        | ((F.unix_millis("ts") - F.unix_millis(prev_ts)) > 1_800_000)
    ).cast("int")
    wrun = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sessions = ev.select(
        "user_id", "ts", F.sum(is_new).over(wrun).alias("session_id")
    )
    durations = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias("dur_ms"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("n_events") > 1)
    )
    return durations.agg(
        F.count("*").alias("n_sessions"),
        dround(F.avg("dur_ms") / 1000.0, 4).alias("mean_duration_s"),
        dround(F.percentile("dur_ms", 0.5) / 1000.0, 4).alias("p50_duration_s"),
        dround(F.percentile("dur_ms", 0.9) / 1000.0, 4).alias("p90_duration_s"),
        dround(F.avg("n_events"), 4).alias("mean_events_per_session"),
    )


@register(
    "events_funnel_three_step",
    oracle="""
    WITH signups AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    step2 AS (
      SELECT s.user_id, s.t1, MIN(e.ts) AS t2
      FROM signups s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'click' AND e.ts > s.t1
      GROUP BY s.user_id, s.t1
    ),
    step3 AS (
      SELECT s2.user_id
      FROM step2 s2 JOIN events e
        ON e.user_id = s2.user_id AND e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY s2.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM signups) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM step2) AS BIGINT)   AS n_signup_click,
           CAST((SELECT COUNT(*) FROM step3) AS BIGINT)   AS n_signup_click_purchase
    """,
)
def events_funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel: signup → later click → later
    purchase, counted per user — the multi-stage generalization of
    events_funnel_click_purchase. Step semantics are ORDERED (each
    stage strictly after the previous stage's first occurrence), which
    is what distinguishes a funnel from set intersection.

    Plan: each stage is one per-user aggregation on the same shuffle
    key — the exchange is reused across stages, and per-user event
    lists never materialize (the sequence predicate lives in the join
    condition, as in the 2-step funnel). Stages ride first-occurrence
    timestamps, so K-step funnels cost K user-keyed aggs, not K
    scans of history."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    step2 = (
        signups.join(clicks, "user_id")
        .filter(F.col("cts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("cts").alias("t2"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    step3 = (
        step2.join(purchases, "user_id")
        .filter(F.col("pts") > F.col("t2"))
        .select("user_id")
        .distinct()
    )
    c1 = signups.agg(F.count("*").alias("n_signup"))
    c2 = step2.agg(F.count("*").alias("n_signup_click"))
    c3 = step3.agg(F.count("*").alias("n_signup_click_purchase"))
    return c1.crossJoin(F.broadcast(c2)).crossJoin(F.broadcast(c3))


@register(
    "events_streak_histogram",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, COUNT(*) AS len FROM isl GROUP BY user_id, grp
    ),
    longest AS (
      SELECT user_id, MAX(len) AS streak FROM streaks GROUP BY user_id
    )
    SELECT CAST(streak AS BIGINT) AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM longest GROUP BY streak_days ORDER BY streak_days
    """,
)
def events_streak_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, histogrammed
    (streak length → user count) — the engagement-habit curve behind
    streak features and retention ladders; the daily-grain sibling of
    the session gaps-and-islands analysis.

    Plan: dedup to (user, day), one per-user window (date minus
    row_number collapses each run of consecutive days to a constant
    island key — users are plentiful, so the window partitions wide),
    then two cheap re-aggregations of frames that are already
    users-bounded. One shuffle on user_id serves all three steps;
    the histogram is streak-length-bounded."""
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("grp", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = isl.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("streak_days"))
    return (
        longest.groupBy("streak_days")
        .agg(F.count("*").alias("n_users"))
        .orderBy("streak_days")
    )


@register(
    "events_sliding_active_users",
    oracle="""
    WITH win AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - (j.j * INTERVAL '15 minutes') AS w_start,
             user_id
      FROM events CROSS JOIN range(4) j(j)
    )
    SELECT w_start,
           w_start + INTERVAL '1 hour' AS w_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
    FROM win GROUP BY w_start ORDER BY w_start
    """,
)
def events_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users per SLIDING hour (15-minute slide) — the
    overlapping-window engagement curve (tumbling windows miss bursts
    straddling a boundary; the 4× overlap smooths them). Batch twin of
    the sliding streaming job; F.window with a slideDuration emits one
    row per covering window, so each event fans out window/slide = 4×
    and the count-distinct partial-aggregates per (window, user).

    100 TB note: the fan-out factor is the window/slide ratio — a
    bounded design constant — and the distinct is two-level hash
    aggregation; no state grows with history."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "active_users",
        )
        .orderBy("w_start")
    )


@register(
    "basket_lift_rules",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    freq AS (
        SELECT l_partkey, COUNT(*) AS part_support FROM items GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS pair_support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
    rules AS (
        SELECT p.part_a, p.part_b,
               CAST(p.pair_support AS BIGINT) AS pair_support,
               p.pair_support / (1.0 * fa.part_support) AS conf_a_to_b,
               n.n_orders * p.pair_support
                 / (1.0 * fa.part_support * fb.part_support) AS lift
        FROM pairs p
        JOIN freq fa ON fa.l_partkey = p.part_a
        JOIN freq fb ON fb.l_partkey = p.part_b
        CROSS JOIN n
        WHERE p.pair_support >= {BASKET_MIN_SUPPORT})
    SELECT part_a, part_b, pair_support,
           ROUND(conf_a_to_b, 4) AS conf_a_to_b,
           ROUND(lift, 4) AS lift
    FROM rules
    ORDER BY lift DESC, part_a, part_b
    """,
)
def basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the co-purchase pairs: confidence
    P(b|a) and lift P(a,b)/(P(a)·P(b)) — the second A-priori pass
    that turns raw pair supports (basket_part_pairs) into ranked
    rules; lift > 1 separates real affinity from popularity.

    Plan: the same basket-assembly + in-array pair fan-out as the
    support pass, then per-part supports and the basket count join
    back BROADCAST (parts-bounded / 1-row); still one lineitem scan
    feeding every term. The checkpointed reuse unit is the BASKET
    frame (collect_set is the distinct): n_orders is its row count
    and part support an explode-re-aggregate of it, so the separate
    distinct-(order, part) shuffle disappears (measured 2.20 s →
    1.18 s at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .transform(cut_lineage)  # reused: n_orders, freq, pairs
    )
    n_orders = baskets.agg(F.count("*").alias("n_orders"))
    freq = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("part_support"))
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("pair_support"))
        .filter(F.col("pair_support") >= BASKET_MIN_SUPPORT)
    )
    fa = freq.withColumnRenamed("l_partkey", "part_a").withColumnRenamed(
        "part_support", "support_a"
    )
    fb = freq.withColumnRenamed("l_partkey", "part_b").withColumnRenamed(
        "part_support", "support_b"
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_support",
            dround(F.col("pair_support") / (1.0 * F.col("support_a")), 4).alias(
                "conf_a_to_b"
            ),
            dround(
                F.col("n_orders")
                * F.col("pair_support")
                / (1.0 * F.col("support_a") * F.col("support_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
        SELECT node, COUNT(*) AS degree
        FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph (parts linked when
    bought in one order) — the first diagnostic run on any graph
    before choosing algorithms: a heavy tail here is exactly what
    makes salting/AQE matter for the joins downstream (the pagerank,
    triangle and components ops all walk this same graph).

    Plan: basket-assembly pair fan-out builds the DISTINCT edge set,
    degrees are one count over the doubled edge list, the histogram
    one more degree-bounded agg — no self-join of lineitem, and no
    pre-distinct of (order, part) either: collect_set IS the distinct
    (same trick as basket_part_pairs), saving a full shuffle
    (measured 1.82 s → 1.41 s at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
    )
    # r12 optimization round (guide §7.2): the doubled node list used
    # to be a unionAll of two selects over `edges` — un-checkpointed,
    # so the basket assembly + pair fan-out + distinct ran TWICE. One
    # explode emits both endpoints per edge in a single pass.
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("degree")
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    dau AS (SELECT d, COUNT(*) AS dau FROM days GROUP BY d),
    fan AS (
      SELECT DISTINCT user_id, d + CAST(j.j AS INTEGER) AS t
      FROM days CROSS JOIN range(7) j(j)
    ),
    wau AS (SELECT t, COUNT(*) AS wau FROM fan GROUP BY t)
    SELECT dau.d AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           ROUND(dau.dau / (1.0 * wau.wau), 4) AS stickiness
    FROM dau JOIN wau ON wau.t = dau.d
    ORDER BY day
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the habit-strength ratio product
    teams track beside retention (1.0 = every weekly user shows up
    daily). WAU(day) = distinct users active in [day−6, day], computed
    WITHOUT a sliding distinct window: each (user, active-day) row
    fans out to the 7 report days it supports (a bounded ×7, the same
    trade as the sliding-window actives), then a two-level distinct
    aggregation — no per-day state, no re-scan per report day.

    100 TB note: the fan-out constant is window/grain (7); everything
    after the first (user, day) dedup is users×days-bounded."""
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    days = days.transform(cut_lineage)  # feeds DAU and the WAU fan-out
    dau = days.groupBy(F.col("d").alias("day")).agg(F.count("*").alias("dau"))
    fan = days.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("j"),
    ).select("user_id", F.date_add(F.col("d"), F.col("j")).alias("t"))
    wau = fan.distinct().groupBy("t").agg(F.count("*").alias("wau"))
    return (
        dau.join(wau, dau["day"] == wau["t"])
        .select(
            "day",
            "dau",
            "wau",
            dround(F.col("dau") / (1.0 * F.col("wau")), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "orders_open_backlog_daily",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS d0,
             CAST(MAX(l.l_shipdate) AS DATE) AS d1
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
      SELECT d0 AS d, 1 AS delta FROM spans
      UNION ALL
      SELECT d1 + 1, -1 FROM spans
    ),
    daily AS (SELECT d, SUM(delta) AS net FROM deltas GROUP BY d)
    SELECT d AS day,
           CAST(SUM(net) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_orders
    FROM daily ORDER BY day
    """,
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-intervals backlog: how many orders are open (placed
    but not fully shipped) on each calendar day — the classic
    interval-overlap-count rewrite: +1 at the start, −1 the day after
    the last shipment, one running sum over the DELTA table. The
    naive spelling joins every order to every day it spans (orders ×
    avg-span rows); this one's heavy lifting is a per-order agg and a
    days-bounded cumulative.

    The running sum is a global-order window — over the distinct-day
    table (~2,400 rows for 7 years), i.e. the bounded-metadata case
    the SCALE.md window rules allow, same as orders_yoy_revenue."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("shipped"))
        .select(
            F.to_date("o_orderdate").alias("d0"),
            F.to_date("shipped").alias("d1"),
        )
    )
    # r12 optimization round (guide §7.2 duplicated subtrees): the
    # +1/−1 delta rows used to be a unionAll of two selects over
    # `spans` — which, un-checkpointed, instantiated the orders⋈
    # lineitem join + per-order agg TWICE. One explode fans each span
    # into both delta rows in a single pass (no union, no barrier).
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("d0").alias("d"), F.lit(1).alias("delta")),
                F.struct(F.date_add("d1", 1).alias("d"), F.lit(-1).alias("delta")),
            )
        ).alias("x")
    ).select("x.d", "x.delta")
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").alias("day"),
        F.sum("net").over(w).cast("long").alias("open_orders"),
    ).orderBy("day")


@register(
    "events_time_to_convert_stats",
    oracle="""
    WITH fc AS (
      SELECT user_id, MIN(ts) AS c0 FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    fp AS (
      SELECT f.user_id, MAX(f.c0) AS c0, MIN(p.ts) AS p0
      FROM fc f JOIN events p
        ON p.user_id = f.user_id AND p.event_type = 'purchase'
       AND p.ts >= f.c0
      GROUP BY f.user_id
    ),
    delays AS (
      SELECT (epoch_us(p0) / 1000000.0 - epoch_us(c0) / 1000000.0) / 60.0
               AS minutes
      FROM fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
           ROUND(quantile_cont(minutes, 0.5), 4) AS p50_minutes,
           ROUND(quantile_cont(minutes, 0.9), 4) AS p90_minutes
    FROM delays
    """,
)
def events_time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion LATENCY distribution: per user, first click to first
    subsequent purchase, summarized as p50/p90 minutes — the "how
    fast", where events_conversion_within_hour answers "how many".
    Latency percentiles drive SLA-style funnel alerts (a p90 that
    doubles flags checkout friction even when the rate holds).

    Plan: two per-user aggregations on the user-key join (fan-out
    bounded per user), then one single-group exact percentile over the
    users-bounded delay table; swap approx_percentile when converters
    outgrow one task's buffer (the documented exact→sketch ladder)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c0"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    fp = (
        fc.join(purchases, "user_id")
        .filter(F.col("pts") >= F.col("c0"))
        .groupBy("user_id")
        .agg(F.max("c0").alias("c0"), F.min("pts").alias("p0"))
    )
    minutes = (F.col("p0").cast("double") - F.col("c0").cast("double")) / 60.0
    delays = fp.select(minutes.alias("minutes"))
    pair = F.percentile("minutes", F.array(F.lit(0.5), F.lit(0.9)))
    return delays.agg(
        F.count("*").alias("n_converters"), pair.alias("qq")
    ).select(
        "n_converters",
        dround(F.col("qq")[0], 4).alias("p50_minutes"),
        dround(F.col("qq")[1], 4).alias("p90_minutes"),
    )


@register(
    "events_growth_accounting",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(d) AS first_d FROM days GROUP BY user_id
    ),
    tagged AS (
      SELECT dy.d, dy.user_id,
             CASE WHEN dy.d = f.first_d THEN 'new'
                  WHEN y.user_id IS NOT NULL THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM days dy
      JOIN firsts f USING (user_id)
      LEFT JOIN days y
        ON y.user_id = dy.user_id AND y.d = dy.d - 1
    )
    SELECT d AS day,
           CAST(COUNT(*) FILTER (status = 'new') AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (status = 'retained') AS BIGINT) AS n_retained,
           CAST(COUNT(*) FILTER (status = 'resurrected') AS BIGINT) AS n_resurrected
    FROM tagged GROUP BY d ORDER BY day
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user classified as new
    (first-ever day), retained (also active yesterday) or resurrected
    (returning after a gap) — the decomposition growth teams read
    before any topline DAU move (10% DAU growth made of resurrections
    is a different business than one made of new users).

    Plan: one (user, day) dedup, the first-day table and the
    yesterday-self-join both ride the same user-key partitioning —
    ONE shuffle on user_id serves all three relations; the day
    rollup is days-bounded. The lag-window spelling is equivalent;
    the self-join form is used so the classification stays a pure
    per-row CASE (easier to extend with churn, which needs the
    day-spine anti-join)."""
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    ).transform(cut_lineage)
    firsts = days.groupBy("user_id").agg(F.min("d").alias("first_d"))
    yesterday = days.select("user_id", F.col("d").alias("y_d"))
    tagged = (
        days.join(firsts, "user_id")
        .join(
            yesterday,
            (yesterday["user_id"] == days["user_id"])
            & (F.col("y_d") == F.date_sub(days["d"], 1)),
            "left",
        )
        .select(
            days["d"].alias("day"),
            F.when(days["d"] == F.col("first_d"), "new")
            .when(F.col("y_d").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("status"),
        )
    )
    return (
        tagged.groupBy("day")
        .agg(
            F.count(F.when(F.col("status") == "new", 1)).alias("n_new"),
            F.count(F.when(F.col("status") == "retained", 1)).alias("n_retained"),
            F.count(F.when(F.col("status") == "resurrected", 1)).alias(
                "n_resurrected"
            ),
        )
        .orderBy("day")
    )


@register(
    "events_churn_daily",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    candidates AS (
      SELECT user_id, d + 1 AS d FROM days
    ),
    churned AS (
      SELECT c.d, c.user_id
      FROM candidates c
      LEFT JOIN days t ON t.user_id = c.user_id AND t.d = c.d
      WHERE t.user_id IS NULL
        AND c.d <= (SELECT MAX(d) FROM days)
    )
    SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
    FROM churned GROUP BY d ORDER BY day
    """,
)
def events_churn_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth growth-accounting quadrant: users active yesterday
    but absent today (day-grain churn), the count that balances the
    ledger — actives(d) − actives(d−1) = new + resurrected − churned.
    Churn attributes to days the user does NOT appear, so it cannot be
    a per-row CASE on the activity table: each active day generates a
    next-day churn CANDIDATE and an anti-join against actual activity
    keeps the misses (clamped to the observed range so the day after
    the dataset ends doesn't count everyone as churned).

    Plan: same single user-key shuffle as events_growth_accounting —
    the candidate shift is a projection, the anti-join co-partitions
    with it; day rollup days-bounded."""
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    ).transform(cut_lineage)
    last_day = days.agg(F.max("d").alias("last_d"))
    candidates = days.select("user_id", F.date_add("d", 1).alias("d"))
    churned = (
        candidates.join(days, ["user_id", "d"], "left_anti")
        .crossJoin(F.broadcast(last_day))
        .filter(F.col("d") <= F.col("last_d"))
    )
    return (
        churned.groupBy(F.col("d").alias("day"))
        .agg(F.count("*").alias("n_churned"))
        .orderBy("day")
    )


@register(
    "events_user_feature_matrix",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               COUNT(*) AS n,
               SUM(value) AS v,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        FROM events WHERE user_id < 120 GROUP BY user_id, CAST(ts AS DATE))
    SELECT user_id, day,
           CAST(SUM(n)  OVER w AS BIGINT) AS n_events_7d,
           ROUND(SUM(v) OVER w, 4)        AS value_7d,
           CAST(SUM(np) OVER w AS BIGINT) AS purchases_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS active_days_7d,
           CAST(COALESCE(date_diff('day',
                LAG(day) OVER (PARTITION BY user_id ORDER BY day), day), -1)
                AS BIGINT) AS gap_days
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    ORDER BY user_id, day
    """,
)
def events_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily training-feature matrix — the churn/propensity
    feature-engineering shape: one row per (user, active day) with
    7-day rolling activity features (event count, value sum, purchase
    count, active-day count) plus the gap since the previous active
    day. The user filter keeps the sf0.01 oracle frame small; the
    plan is identical without it.

    Plan: one groupBy to the (user, day) grain, then ONE user-
    partitioned window pass computes every rolling feature (RANGE
    frame over epoch-day, so calendar gaps are handled without a
    fill-join) and the lag. 100 TB: windows partition by user —
    millions of independent partitions, no global sort; state per
    partition is bounded by the 7-day frame, the same bound a
    streaming implementation would carry as watermark state."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 120)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("v"),
            F.count_if(F.col("event_type") == "purchase").alias("np"),
        )
        .withColumn("dnum", F.datediff("day", F.lit("1970-01-01")))
    )
    w7 = Window.partitionBy("user_id").orderBy("dnum").rangeBetween(-6, 0)
    wlag = Window.partitionBy("user_id").orderBy("dnum")
    return (
        daily.select(
            "user_id",
            "day",
            F.sum("n").over(w7).alias("n_events_7d"),
            dround(F.sum("v").over(w7), 4).alias("value_7d"),
            F.sum("np").over(w7).alias("purchases_7d"),
            F.count(F.lit(1)).over(w7).alias("active_days_7d"),
            F.coalesce(
                F.col("dnum") - F.lag("dnum").over(wlag), F.lit(-1)
            ).cast("bigint").alias("gap_days"),
        )
        .orderBy("user_id", "day")
    )
