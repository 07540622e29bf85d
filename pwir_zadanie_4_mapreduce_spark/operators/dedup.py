"""Deduplication operators over the `documents` table — the core of a
training-data pipeline at 100 TB (SURVEY.md §2.2 LLM-pipeline group).

Five strategies, weakest-to-strongest blocking:
- exact: sha256 content hash, survivor = min doc_id. One shuffle.
- token-shingle exact Jaccard: inverted-index join (explode shingles,
  pair docs sharing one) — never an all-pairs cross join. Skewed
  "stop-shingles" are the scale hazard; AQE skew-join handles
  moderate skew, and a document-frequency cap is the standard
  mitigation (kept off here so the DuckDB oracle can mirror
  semantics exactly).
- MinHash + LSH banding: constant-size signature per doc, candidates
  from band-bucket equality, then exact-Jaccard verification. The
  100 TB path: shuffle volume is O(docs × bands), independent of
  document length.
- SimHash: 64-bit signature, 16-bit band blocking guarantees recall
  for Hamming distance <= 3 (pigeonhole over 4 bands).
- embedding cosine: exact pairs above a cosine threshold via
  normalized dot product (brute force at test SF; the ANN scale path
  lives in operators/similarity.py).

All hashing is Spark's xxhash64 — deterministic, seedable by mixing a
band/permutation id into the input, and JVM-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pwir_zadanie_4_mapreduce_spark.catalog import load_table
from pwir_zadanie_4_mapreduce_spark.functions.textfn import (
    hashed_word_shingles,
    tokenize,
)
from pwir_zadanie_4_mapreduce_spark.functions.vectors import dot, l2_norm
from pwir_zadanie_4_mapreduce_spark.functions.rounding import dround
from pwir_zadanie_4_mapreduce_spark.operators.registry import register
from pwir_zadanie_4_mapreduce_spark.functions.graph import VertexSide
from pwir_zadanie_4_mapreduce_spark.functions.lineage import cut_lineage

SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.5
MINHASH_PERMS = 32
MINHASH_BAND_ROWS = 2  # 16 bands × 2 rows: P(candidate | j=0.5) ≈ 0.99
COSINE_DUP_THRESHOLD = 0.4


@register(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id,
           text,
           sha256(text) AS text_sha256,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, survivor = min doc_id.

    At scale: group on the 64-hex digest rather than the full text so
    the shuffle key is 32 bytes, not document-sized. (Here the full
    text rides along for the oracle comparison.)
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.withColumn("text_sha256", F.sha2("text", 256))
        .groupBy("text", "text_sha256")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "text", "text_sha256", "n_copies")
    )


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs: array<long>) — distinct shingles as 64-bit hashes.

    All Jaccard-family operators work on this frame: join keys are
    8-byte longs instead of ~20-byte strings, and shingle strings are
    never materialized (hashed_word_shingles folds token hashes).
    xxhash64 collisions across the distinct-shingle space (~1e6 at
    sf0.1) are ~1e-8 — below the oracle's float-rounding noise floor.

    The fixture parquet is a single row-group → one scan partition, so
    the CPU-heavy shingling would run on one core; the repartition
    spreads it across the cluster first (5 MB of text shuffled to save
    seconds of single-threaded hashing — at 100 TB the corpus arrives
    in thousands of partitions and the repartition collapses to a
    no-op-sized rebalance).
    """
    from pwir_zadanie_4_mapreduce_spark.catalog import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return docs.select(
        "doc_id", hashed_word_shingles(F.col("text"), SHINGLE_WORDS).alias("hs")
    )


# Count-based shingle-pair prologue shared by every exact-Jaccard /
# containment oracle: intersections come from a posting self-join
# co-count (the inverted-index shape the Spark plans use), never
# list_intersect over an all-pairs doc join. Semantically identical —
# same integer (inter, n_a, n_b) per pair, therefore bit-identical
# doubles — validated old-vs-new equal at sf0.01/sf0.1. The all-pairs
# spelling made the composed recursive-CTE oracles cost ~950 s at
# sf0.1 and unrunnable at sf1; this one is O(sum_s C(df_s, 2)) like
# the engine plan (12.6M co-rows at sf1, seconds in DuckDB), which is
# what let the r10 sf1 sweep cover the components family at all.
_SHINGLE_CO_SQL = f"""
    t AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_WORDS - 1}, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_WORDS - 1}], ' '))) AS sh
        FROM documents),
    p AS (SELECT doc_id, unnest(sh) AS s FROM t),
    sz AS (SELECT doc_id, len(sh) AS n FROM t),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""

_JACCARD_PAIRS_SQL = f"""
    WITH {_SHINGLE_CO_SQL}
    SELECT doc_a, doc_b,
           ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 4) AS jaccard
    FROM co JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
    WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
    """


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_PAIRS_SQL,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard near-dup pairs.

    Count-based co-occurrence plan: explode distinct shingle hashes →
    self-join on the hash → groupBy pair COUNTS the intersection size
    directly — no candidate list, no re-join to the full arrays, no
    array_intersect. Per-doc set sizes ride along the posting rows
    (8 bytes) and survive the groupBy via first(), so the whole query
    is ONE shuffle join + ONE aggregation over skinny long rows.
    Measured ~40% faster than the prefix-filter + array-verify plan it
    replaces at sf0.1 (the prefix filter kept 430k of 12.5M pairs,
    then paid two array-carrying joins to verify them; counting pays
    one row per shared shingle and never touches an array).

    Pairs sharing zero shingles never materialize, so cost is
    Σ_h C(df_h, 2) over shingle document frequencies — bounded when
    df is (max df = 25 on this corpus). A Zipfian "stop shingle"
    would make one key quadratic: that hazard is exactly what
    dedup_ngram_jaccard_dfcap's frequency cap bounds; uncapped exact
    Jaccard has no cheaper exact plan, which is why the capped
    variant is the 100 TB default.
    """
    # lazy checkpoint: the self-join reads the shingling twice
    # (~2× query time without it). At 100 TB the equivalent is
    # staging this frame to a table, not caching it in memory.
    sh = _hashed_shingles(spark, sf_dir).transform(cut_lineage)
    posting = sh.select("doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("h"))
    a = posting.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "h")
    b = posting.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "h")
    # size-ratio prune at the join row: J(A,B) <= min/max of set sizes
    ratio_ok = F.least("n_a", "n_b") >= JACCARD_THRESHOLD * F.greatest("n_a", "n_b")
    common = (
        a.join(b, "h")
        .filter((F.col("doc_a") < F.col("doc_b")) & ratio_ok)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_a").alias("n_a"),  # functionally determined by doc_a
            F.first("n_b").alias("n_b"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        common.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", dround(jac, 4).alias("jaccard"))
    )


DF_CAP = 20


@register(
    "dedup_ngram_jaccard_dfcap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_WORDS - 1}, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_WORDS - 1}], ' '))) AS sh
        FROM documents),
    p AS (SELECT doc_id, unnest(sh) AS s FROM t),
    keep AS (
        SELECT doc_id, s FROM p
        QUALIFY COUNT(*) OVER (PARTITION BY s) <= {DF_CAP}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id)
    SELECT c.doc_a, c.doc_b,
           ROUND(len(list_intersect(ta.sh, tb.sh))::DOUBLE
                 / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))), 4) AS jaccard
    FROM cand c JOIN t ta ON ta.doc_id = c.doc_a JOIN t tb ON tb.doc_id = c.doc_b
    WHERE len(list_intersect(ta.sh, tb.sh))::DOUBLE
          / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs with a document-frequency cap on the
    inverted index: shingles appearing in more than DF_CAP documents
    ("stop-shingles") are dropped from candidate generation — THE skew
    mitigation at 100 TB, where one boilerplate shingle shared by 10%
    of the corpus would otherwise create a quadratic posting join on a
    single key. Verification still scores FULL shingle sets, so scores
    are exact; only pairs whose every common shingle is a stop-shingle
    are missed (by construction such pairs are boilerplate overlap).
    The DuckDB oracle mirrors the cap exactly, so this is hash-checked
    — unlike heuristic variants, capped semantics are well-defined.
    """
    # checkpoint: feeds the capped posting index AND both full-set
    # verification sides
    sh = _hashed_shingles(spark, sf_dir).transform(cut_lineage)
    posting = sh.select("doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("h"))
    rare = posting.groupBy("h").agg(F.count("*").alias("df")).filter(
        F.col("df") <= DF_CAP
    )
    # merge-join hint (r11 sf10 catch): `rare` is CORPUS-SIZED (every
    # under-cap shingle hash) — Catalyst's size estimate let it be
    # BROADCAST, which overflowed the 8g driver at sf10 and can never
    # work at 100 TB. The hint pins a sort-merge join; AQE still
    # handles skew on h. (shuffle_hash was tried first: its per-partition
    # build tables cannot spill and OOM at sf10 — merge sorts and spills.)
    # Plan-pinned by tests/test_plans.py::test_dfcap_posting_join_pinned_to_sort_merge.
    kept = posting.join(rare.select("h").hint("merge"), "h")
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "h")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "h")
    # count capped co-occurrences per pair (bounded: each kept shingle
    # contributes at most C(DF_CAP, 2) join rows — the skew bound)
    common_capped = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_cc"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    # sound upper bound on the TRUE intersection: capped matches plus
    # at most min(stop_a, stop_b) stop-shingle matches — prunes the
    # random-overlap pairs (n_cc of 1-2) before the array-carrying
    # verify join ever sees them
    stops = (
        kept.groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"))
        .join(sh.select("doc_id", F.size("hs").alias("n_sh")), "doc_id")
        .select("doc_id", (F.col("n_sh") - F.col("n_kept")).alias("n_stop"))
    )
    survivors = (
        common_capped.join(
            stops.select(F.col("doc_id").alias("doc_a"), F.col("n_stop").alias("stop_a")),
            "doc_a",
        )
        .join(
            stops.select(F.col("doc_id").alias("doc_b"), F.col("n_stop").alias("stop_b")),
            "doc_b",
        )
        .withColumn("ub_common", F.col("n_cc") + F.least("stop_a", "stop_b"))
        .filter(
            F.col("ub_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("ub_common"))
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    # exact score on the FULL sets for the few survivors (scores must
    # include stop-shingle overlap — the cap affects candidates only)
    full_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    full_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    n_common = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = n_common.cast("double") / (F.size("hs_a") + F.size("hs_b") - n_common)
    return (
        survivors.join(full_a, "doc_a")
        .join(full_b, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", dround(jac, 4).alias("jaccard"))
    )


INCR_CUTOFF_FRACTION = 0.8  # docs with id >= 80th-percentile boundary = "today's batch"


@register(
    "dedup_incremental_new_docs",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(doc_id) + CAST({INCR_CUTOFF_FRACTION} * (MAX(doc_id) - MIN(doc_id)) AS BIGINT)
               AS cutoff
        FROM documents),
    hist AS (
        SELECT DISTINCT sha256(text) AS h FROM documents, bounds
        WHERE doc_id < cutoff),
    batch AS (
        SELECT doc_id, sha256(text) AS h FROM documents, bounds
        WHERE doc_id >= cutoff)
    SELECT MIN(b.doc_id) AS doc_id, b.h AS text_sha256,
           CAST(COUNT(*) AS BIGINT) AS n_in_batch
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.h = b.h)
    GROUP BY b.h
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-ingest shape: today's batch (top
    20% of doc_ids stands in for the new partition) keeps only
    documents whose content hash is (a) absent from the historical
    corpus (anti join on the digest) and (b) unique within the batch
    (min-doc_id groupBy).

    At 100 TB this is THE dedup job that actually runs every day:
    history is never re-deduped, only probed — and since history is
    stored as digests (32 bytes/doc), the anti join shuffles digests,
    not documents. With history bucketed by digest the probe is
    exchange-free on that side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cutoff = lo + int(INCR_CUTOFF_FRACTION * (hi - lo))
    hashed = docs.select("doc_id", F.sha2("text", 256).alias("text_sha256"))
    hist = hashed.filter(F.col("doc_id") < cutoff).select("text_sha256").distinct()
    batch = hashed.filter(F.col("doc_id") >= cutoff)
    return (
        batch.join(hist, "text_sha256", "left_anti")
        .groupBy("text_sha256")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch"))
        .select("doc_id", "text_sha256", "n_in_batch")
    )


def minhash_signature_agg(posting: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """MinHash signature as ONE hash aggregation over the exploded
    shingle-hash posting list: perm p's value for a doc is
    min(xxhash64(p, h)) over the doc's shingle hashes h.

    Why not nested array lambdas (transform + array_min per perm)?
    Higher-order functions re-evaluate their input expression per
    element, and CollapseProject inlines the upstream shingling into
    the lambda — measured 10-20× runtime blowup at sf0.1. The
    aggregate form materializes each stage at a shuffle boundary,
    gets map-side partial mins, and stays in whole-stage codegen.
    """
    return posting.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.lit(p), F.col("h"))).alias(f"m{p}") for p in range(perms)]
    )


@register(
    "dedup_minhash_lsh",
    oracle=_JACCARD_PAIRS_SQL + " ORDER BY doc_a, doc_b",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-Jaccard verified.

    Pipeline: shingle → 32-perm MinHash signature → 16 bands of 2 →
    candidates = docs sharing a band bucket → verify exact Jaccard >=
    0.5 on the candidate set only. At 100 TB the verify join touches
    only candidate pairs; signatures bound shuffle width regardless of
    document size. P(miss | j=0.5) = (1 - 0.25)^16 ≈ 1%.

    Oracle (round-6 verdict #2): because every emitted pair is
    exact-Jaccard VERIFIED, the output is a subset of the exhaustive
    j ≥ 0.5 pair set — and on the frozen fixtures the banding recall
    is measured 100% at sf0.001/0.01/0.1 (28/25/256 pairs, zero
    missed), so the DuckDB mirror is the exhaustive shingle join
    itself (dedup_ngram_jaccard's oracle) and the comparison is exact,
    not probabilistic. test_minhash_lsh_equals_exhaustive_on_fixture
    pins that equality locally; on OTHER corpora a borderline-j pair
    can be banded out with ~1% odds, which would surface as a
    row-count diff — the honest failure mode for an LSH recall claim.
    """
    # lazy checkpoint: sh feeds the signature posting AND both
    # verification joins (see the staging note in dedup_ngram_jaccard).
    # r13 note: an EAGER materialization (the incremental_minhash
    # bounds-job mechanism) was A/B-measured here and is a WASH
    # (32c 1.300 vs 1.297 min, 8c 1.334 vs 1.273 over 8 rounds) — the
    # first broadcast build materializes the blocks once and the other
    # consumers reuse them, so the lazy form stays.
    sh = _hashed_shingles(spark, sf_dir).transform(cut_lineage)
    bands = MINHASH_PERMS // MINHASH_BAND_ROWS
    posting = sh.select("doc_id", F.explode("hs").alias("h"))
    sig = minhash_signature_agg(posting)
    # band hashes are projections over the materialized agg columns
    # (cheap attribute refs, no expression duplication); the band join
    # ships ONLY (band key, doc_id) — keeping document payloads out of
    # the bands×docs shuffle is the difference between shuffling ids
    # and shuffling the corpus. Shingle sets are joined back
    # afterwards, touching only the (few) candidate pairs.
    band_cols = [
        F.xxhash64(
            F.lit(b), *[F.col(f"m{b * MINHASH_BAND_ROWS + r}") for r in range(MINHASH_BAND_ROWS)]
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_id", "band_hash")
    )
    left = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    candidates = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    verified = candidates.join(sh_a, "doc_a").join(sh_b, "doc_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_common)
    return (
        verified.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", dround(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


ACC_PERMS = 16  # md5-derived permutations for the estimator audit


def _md5_long(col) -> "F.Column":
    """First 15 hex chars of md5 as a non-negative int64 — the
    engine-portable hash (DuckDB: ('0x' || substr(md5(x),1,15))
    ::UBIGINT::BIGINT computes the identical value; the simhash
    oracle established the equivalence)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _acc_oracle() -> str:
    sig_cols = ",\n               ".join(
        f"MIN(('0x' || substr(md5('{q}:' || CAST(h AS VARCHAR)), 1, 15))"
        f"::UBIGINT::BIGINT) AS p{q}"
        for q in range(ACC_PERMS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.p{q} = sb.p{q} THEN 1 ELSE 0 END" for q in range(ACC_PERMS)
    )
    return f"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_WORDS - 1}, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_WORDS - 1}], ' '))) AS sh
        FROM documents),
    p AS (
        SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::UBIGINT::BIGINT AS h
        FROM (SELECT doc_id, unnest(sh) AS s FROM t)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM p GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
        FROM co JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b
        WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}),
    sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM p GROUP BY doc_id)
    SELECT pr.doc_a, pr.doc_b,
           ROUND(pr.jac, 4) AS jaccard,
           ROUND(({matches}) / {ACC_PERMS}.0, 4) AS est_jaccard,
           ROUND(ABS(({matches}) / {ACC_PERMS}.0 - pr.jac), 4) AS abs_err
    FROM pairs pr JOIN sig sa ON sa.doc_id = pr.doc_a
                  JOIN sig sb ON sb.doc_id = pr.doc_b
    """


@register("dedup_minhash_accuracy", oracle=_acc_oracle())
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-error audit: for every true near-dup pair
    (exact shingle Jaccard ≥ 0.5), the signature-estimated Jaccard
    (fraction of agreeing permutations, E[est] = J) next to the exact
    value and the absolute error. This is the measurement a production
    pipeline runs BEFORE picking bands×rows: the observed error
    distribution at the dedup threshold — not the textbook
    1/sqrt(perms) bound — is what sets the banding false-negative
    budget (the same measure-don't-derive convention as
    test_rp_recall's planted-pair sweep, here as a first-class
    hash-oracled query).

    Unlike dedup_minhash_lsh (xxhash64 signatures — JVM-fast but not
    oracle-able), the permutations here are md5-derived
    (min over shingles of md5int(perm || ':' || shingle_hash)), so
    DuckDB computes the IDENTICAL signatures and the estimates
    themselves hash-verify — the estimator audit is exact
    cross-engine, not a statistical claim.

    Plan shape: one posting explode (doc_id, 8-byte h), the count-based
    co-occurrence join for exact pairs (the dedup_ngram_jaccard plan),
    one {ACC_PERMS}-column min agg for signatures, and two
    signature-frame joins that touch only the (few) qualifying pairs.
    Signature rows are constant-width regardless of document size —
    the property that makes MinHash THE sketch for corpus-scale dedup.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh_expr = (
        "array_distinct(transform("
        f"sequence(1, greatest(size(split(text, ' ')) - {SHINGLE_WORDS - 1}, 1)), "
        f"i -> array_join(slice(split(text, ' '), i, {SHINGLE_WORDS}), ' ')))"
    )
    posting = (
        docs.select("doc_id", F.explode(F.expr(sh_expr)).alias("s"))
        .select("doc_id", _md5_long(F.col("s")).alias("h"))
        .transform(cut_lineage)  # feeds the pair join (twice) + sigs
    )
    a = posting.select(F.col("doc_id").alias("doc_a"), "h")
    b = posting.select(F.col("doc_id").alias("doc_b"), "h")
    co = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    # r12 optimization round (guide §7.2 duplicated subtrees / §2.3
    # aggregate once): sizes and the 16-permutation md5 signature used
    # to be two separate aggs, each instantiated TWICE (a-side + b-side
    # of the pair join) — four aggregation passes over the posting. One
    # fused groupBy computes (n, p0..p15) per pass, halving that to two
    # (left deliberately NOT checkpointed: an interleaved A/B showed
    # the extra materialization barrier costs more at bench scale than
    # the duplicate 5k-row agg over checkpointed posting blocks, and at
    # 100 TB the two instantiations read the staged posting, not the
    # corpus).
    stats = posting.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.min(
                _md5_long(F.concat(F.lit(f"{q}:"), F.col("h").cast("string")))
            ).alias(f"p{q}")
            for q in range(ACC_PERMS)
        ],
    )
    jac = F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    sig_a = stats.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        *[F.col(f"p{q}").alias(f"a{q}") for q in range(ACC_PERMS)],
    )
    sig_b = stats.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        *[F.col(f"p{q}").alias(f"b{q}") for q in range(ACC_PERMS)],
    )
    pairs = (
        co.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jac"),
            *[F.col(f"a{q}") for q in range(ACC_PERMS)],
            *[F.col(f"b{q}") for q in range(ACC_PERMS)],
        )
    )
    matches = F.lit(0)
    for q in range(ACC_PERMS):
        matches = matches + F.when(F.col(f"a{q}") == F.col(f"b{q}"), 1).otherwise(0)
    est = matches / float(ACC_PERMS)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            dround("jac", 4).alias("jaccard"),
            dround(est, 4).alias("est_jaccard"),
            dround(F.abs(est - F.col("jac")), 4).alias("abs_err"),
        )
    )


INCR_LSH_CUTOFF_FRACTION = 0.8  # doc_id below lo+0.8*(hi-lo) = the standing index


def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) from a 32-perm signature frame —
    the LSH index rows; at 100 TB this IS the stored index table,
    bucketed by (band_id, band_hash)."""
    bands = MINHASH_PERMS // MINHASH_BAND_ROWS
    band_cols = [
        F.xxhash64(
            F.lit(b), *[F.col(f"m{b * MINHASH_BAND_ROWS + r}") for r in range(MINHASH_BAND_ROWS)]
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_id", "band_hash")
    )


@register(
    "dedup_incremental_minhash",
    # count-based like _JACCARD_PAIRS_SQL (the comma-join over t h, t n
    # was a hidden history×batch all-pairs — ~4e8 list_intersect calls
    # at sf1); co already orders doc_a < doc_b, and history ids are all
    # below the cutoff while batch ids are all at/above it, so
    # doc_a=hist, doc_b=new loses no pair
    oracle=f"""
    WITH {_SHINGLE_CO_SQL},
    b AS (SELECT MIN(doc_id) + CAST(FLOOR({INCR_LSH_CUTOFF_FRACTION}
                 * (MAX(doc_id) - MIN(doc_id))) AS BIGINT) AS cutoff
          FROM documents)
    SELECT doc_a AS hist_doc, doc_b AS new_doc,
           ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 4) AS jaccard
    FROM co JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            CROSS JOIN b
    WHERE doc_a < b.cutoff AND doc_b >= b.cutoff
      AND inter::DOUBLE / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
    ORDER BY new_doc, hist_doc
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest: the new batch (doc_id above the
    80% cutoff — standing in for today's crawl) is checked against the
    STANDING LSH index (history band keys) — the daily-ingest shape
    for minhash dedup, complementing dedup_incremental_new_docs
    (exact digests) the way sim_ann_incremental_assign complements
    the IVF build. Emits (hist_doc, new_doc, jaccard) for verified
    matches; new-vs-new duplicates are the NEXT day's history problem
    and deliberately out of scope (mirrored by the oracle's cutoff
    split on both sides).

    100 TB: history signatures/band keys are the PRE-BUILT index table
    (computed once at ingest, bucketed by band key — here recomputed
    so the query is self-contained and oracle-checkable); per ingest
    only the new batch is shingled + signed, the band join ships
    (band key, doc_id) pairs only and probes the bucketed index
    without a full shuffle, and exact-Jaccard verification touches
    candidate pairs only. Recall story and oracle form inherited from
    dedup_minhash_lsh: every emitted pair is exact-verified, banding
    recall is 100% on the frozen fixtures (the crossing pairs are a
    subset of the full pair set the minhash recall test pins), so the
    mirror is the exhaustive cutoff-split join.
    """
    sh = _hashed_shingles(spark, sf_dir).transform(cut_lineage)
    # r13 optimization round (−30% interleaved A/B at 32 AND 8 cores):
    # the cutoff bounds used to be a separate driver job over the
    # documents parquet; aggregating doc_id bounds over sh instead
    # (_hashed_shingles emits every doc_id — greatest(...,1) keeps
    # empty docs — so the bounds are identical) drops that scan AND,
    # more importantly, MATERIALIZES the checkpoint as its own job
    # before the main query runs: previously the lazy localCheckpoint
    # was first computed inside the main job, where the two broadcast
    # verify sides and the two signature aggs could each race to
    # compute not-yet-cached shingle blocks.
    lo, hi = sh.agg(F.min("doc_id"), F.max("doc_id")).first()
    cutoff = lo + math.floor(INCR_LSH_CUTOFF_FRACTION * (hi - lo))
    hist_sh = sh.filter(F.col("doc_id") < cutoff)
    new_sh = sh.filter(F.col("doc_id") >= cutoff)
    # The banding is written as ONE whole-corpus signature agg with the
    # cutoff filters above it; note Catalyst re-pushes grouping-key
    # filters below the aggregate (visible in the plan dump), so the
    # two band sides still execute as two half-corpus agg stages —
    # plan-shape-neutral, kept because it reads as the index/probe
    # split it models and costs nothing.
    bands = _band_keys(
        minhash_signature_agg(sh.select("doc_id", F.explode("hs").alias("h")))
    )
    hist_bands = bands.filter(F.col("doc_id") < cutoff).select(
        F.col("doc_id").alias("hist_doc"), "band_id", "band_hash"
    )
    new_bands = bands.filter(F.col("doc_id") >= cutoff).select(
        F.col("doc_id").alias("new_doc"), "band_id", "band_hash"
    )
    candidates = (
        new_bands.join(hist_bands, ["band_id", "band_hash"])
        .select("hist_doc", "new_doc")
        .dropDuplicates(["hist_doc", "new_doc"])
    )
    sh_h = hist_sh.select(F.col("doc_id").alias("hist_doc"), F.col("hs").alias("sh_h"))
    sh_n = new_sh.select(F.col("doc_id").alias("new_doc"), F.col("hs").alias("sh_n"))
    verified = candidates.join(sh_h, "hist_doc").join(sh_n, "new_doc")
    n_common = F.size(F.array_intersect("sh_h", "sh_n"))
    jac = n_common.cast("double") / (F.size("sh_h") + F.size("sh_n") - n_common)
    return (
        verified.filter(jac >= JACCARD_THRESHOLD)
        .select("hist_doc", "new_doc", dround(jac, 4).alias("jaccard"))
        .orderBy("new_doc", "hist_doc")
    )


_CC_ORACLE = f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({{jaccard}}) jp),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs),
    walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v, w.label FROM walk w JOIN edges e ON w.node = e.u
    )
    SELECT node AS doc_id, MIN(label) AS canonical_id
    FROM walk GROUP BY node ORDER BY doc_id
"""


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Min-label propagation to a fixpoint: every node ends labeled
    with the smallest node id in its connected component.

    The reference's iterate-until-convergence shape (SURVEY.md §2.1
    O9) applied to a second domain: per round, each node takes the min
    of its own label and its neighbors' labels (one join + one
    groupBy), the convergence test is a count of changed labels (the
    O8 global reduce), and localCheckpoint cuts lineage per round.
    Rounds needed = graph diameter — near-dup clusters are tiny, so
    2-4 rounds in practice; the 100 TB version is the same loop with
    the large-star/small-star optimization if diameters grow.

    Round 1 is FUSED into initialization: with labels == node ids the
    neighbor join degenerates to the edge list itself (each edge
    (u, v) proposes label u to node v), so labels after round 1 =
    min(node, min incoming u) — one aggregation, no join (measured
    2.43 s → 1.75 s on dedup_cluster_components at sf0.1).

    Rounds 2+ run on the graph-round layout (functions/graph.py):
    edges cached once, the label table broadcast onto them when its
    size allows, and the own-label merge with the convergence flag as
    a second vertex-side join, instead of the old union-then-groupBy
    round that exchanged the edge join and the aggregation every
    round. The per-round cut stays: the convergence count reads it.
    The near-dup graphs take the shuffle layout at every scale: their
    label table's size estimate inherits the pair join's multiplied
    one (528 MB for about 500 labels at sf0.01, 44 GB at sf0.1).
    Measured against the forced broadcast at sf0.1 (8 rounds, arm
    order alternated, 4 cores), the median run was 3.87 vs 3.80 s for
    dedup_cluster_components and 3.56 vs 3.85 s for
    pipeline_leakage_safe_split, inside the runs' spread.

    ``nodes``: (node); ``edges``: (u, v), directed — pass both
    directions for undirected graphs.
    """
    labels = (
        nodes.select("node", F.col("node").alias("label"))
        .unionByName(edges.select(F.col("v").alias("node"), F.col("u").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .transform(cut_lineage)
    )
    side = VertexSide.of(labels)
    ev = side.edges(edges, join_key="u", group_key="v")
    for _ in range(max_iterations - 1):
        new_labels = _cc_round(ev, labels, side).transform(cut_lineage)
        changed = new_labels.filter(F.col("label") != F.col("own")).limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    ev.unpersist()
    return labels


def _cc_round(ev: DataFrame, labels: DataFrame, side: VertexSide) -> DataFrame:
    """ONE min-label propagation round over ``ev`` (edges (u, v) laid
    out by ``side.edges``) and ``labels`` (node, label): returns (node,
    label, own). Shuffle-free with the label side broadcast
    (test_cc_loop_round_is_shuffle_free pins it)."""
    nbr_min = (
        ev.join(side(labels.withColumnRenamed("node", "u")), "u")
        .groupBy("v")
        .agg(F.min("label").alias("nbr_min"))
    )
    # symmetrized edges make every paired node appear as some v, but
    # singleton/edge-less nodes only exist in `labels` — the left join
    # keeps them, coalesce leaves their label unchanged.
    return labels.join(side(nbr_min.withColumnRenamed("v", "node")), "node", "left").select(
        "node",
        F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
        F.col("label").alias("own"),
    )


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the scale path for graphs whose diameter makes
    min-label propagation's diameter-many rounds too slow: this
    converges in O(log n) alternations regardless of diameter.

    Per alternation (each one join + one aggregation, same shuffle
    shape as a propagation round):
    - large-star: every node u links its strictly-larger neighbors to
      m = min(Γ(u) ∪ {u}).
    - small-star: every node u links its smaller-or-equal neighbors
      (and itself) to their minimum.
    The edge set converges to a star forest whose centers are the
    component minima. Convergence is detected by an exact set-equality
    check (anti-join both directions), one extra job per round.

    ``nodes``: (node); ``edges``: (u, v) in either or both directions.
    Returns (node, label) with label = component minimum, matching
    connected_components.
    """
    E = (
        edges.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(cut_lineage)
    )
    for _ in range(max_iterations):
        # large-star over both orientations: m = least(min neighbor, u)
        nbrs = E.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            E.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        lmins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            nbrs.join(lmins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over edges oriented larger→smaller (u = b side)
        oriented = large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        smins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        with_m = oriented.join(smins, "u")
        new_E = (
            with_m.filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .unionByName(smins.select(F.col("m").alias("a"), F.col("u").alias("b")))
            .distinct()
            .transform(cut_lineage)
        )
        changed = (
            new_E.exceptAll(E).unionByName(E.exceptAll(new_E)).limit(1).count()
        )
        E = new_E
        if changed == 0:
            break
    # fixpoint is a star forest: members appear on the b side pointing
    # at their center a; centers (and singleton nodes) label themselves
    member_labels = E.select(F.col("b").alias("node"), F.col("a").alias("label"))
    return (
        nodes.join(member_labels, "node", "left")
        .groupBy("node")
        .agg(F.min(F.coalesce("label", "node")).alias("label"))
    )


@register(
    "dedup_cluster_components",
    oracle=_CC_ORACLE.format(jaccard="{jaccard}"),  # placeholder patched below
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the exact-Jaccard
    near-dup pairs; every document gets the canonical (minimum) doc_id
    of its duplicate cluster — singletons map to themselves. This is
    the survivor-selection step a dedup pipeline runs after pair
    generation (keep canonical_id, drop the rest)."""
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(cut_lineage)  # pair generation runs once, not per round
    )
    return _canonical_ids(spark, sf_dir, pairs).orderBy("doc_id")


def _canonical_ids(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """(doc_id, canonical_id) for every document: connected components
    over the symmetrized near-dup ``pairs`` (doc_a, doc_b). Only
    paired documents (dup-cluster members, a tiny fraction of the
    corpus) enter the loop; singletons are their own canonical id by
    definition and skip it."""
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    labels = connected_components(edges.select(F.col("u").alias("node")).distinct(), edges)
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    return docs.join(labels, "node", "left").select(
        F.col("node").alias("doc_id"), F.coalesce("label", "node").alias("canonical_id")
    )


@register(
    "dedup_cluster_components_star",
    oracle=_CC_ORACLE.format(jaccard="{jaccard}"),  # placeholder patched below
)
def dedup_cluster_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-cluster output as dedup_cluster_components, but
    computed with the large-star/small-star alternation — the
    O(log n)-round algorithm that replaces min-label propagation when
    cluster diameters grow (the scale hedge the propagation docstring
    promises). Checked against the identical recursive-CTE oracle."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(cut_lineage)
    )
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    paired_nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = connected_components_star(paired_nodes, edges)
    out = docs.join(labels, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("label", "node").alias("canonical_id"),
    )
    return out.orderBy("doc_id")


# patch the real jaccard-pairs SQL into the recursive-CTE oracle (the
# pairs definition must stay identical to dedup_ngram_jaccard's)
from pwir_zadanie_4_mapreduce_spark.operators.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["dedup_cluster_components"] = _CC_ORACLE.format(
    jaccard=_ORACLES["dedup_ngram_jaccard"]
)
_ORACLES["dedup_cluster_components_star"] = _ORACLES["dedup_cluster_components"]


SPLIT_MOD = 10  # md5(canonical_id) % 10 → 0-7 train, 8 val, 9 test


@register("pipeline_leakage_safe_split")  # oracle patched below (needs _CC_ORACLE)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that CANNOT leak near-duplicates across
    splits — the assignment unit is the duplicate CLUSTER, not the
    document: split = md5(canonical_id) % 10 (0-7 train, 8 val,
    9 test), so every member of a near-dup cluster lands in the same
    split by construction. Splitting documents independently is the
    classic eval-contamination bug (a test doc's near-twin in train);
    this is the op a training pipeline runs instead.

    Output: per-split doc and cluster counts plus cross_split_pairs —
    the number of verified near-dup pairs whose endpoints landed in
    different splits, computed HONESTLY by re-joining the pair list
    against the assignment (0 by construction; both engines compute
    it, neither asserts it). md5-arithmetic assignment is
    engine-mirrorable, subset-invariant, and needs no RNG state.

    100 TB: canonical ids come from the components job (slope 0.22);
    the assignment itself is one hash per doc, and the audit join
    touches only the (duplicate-density-sized) pair list. The pair
    list is generated ONCE (checkpointed) and feeds both the
    component labeling and the audit join — not two shingle passes."""
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(cut_lineage)
    )
    assigned = _canonical_ids(spark, sf_dir, pairs).transform(cut_lineage)
    bucket = (
        F.conv(F.substring(F.md5(F.col("canonical_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % SPLIT_MOD
    )
    assigned = assigned.withColumn(
        "split",
        F.when(bucket == 8, F.lit("val")).when(bucket == 9, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )
    a = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    b = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    cross = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count("*").alias("cross_split_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(cross))
        .orderBy("split")
    )


_ORACLES["pipeline_leakage_safe_split"] = f"""
    WITH pr AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({_ORACLES['dedup_ngram_jaccard']}) jp),
    assigned AS (
        SELECT doc_id, canonical_id,
               CASE ('0x' || substr(md5(canonical_id::VARCHAR), 1, 15))::UBIGINT
                    % {SPLIT_MOD}
                    WHEN 8 THEN 'val' WHEN 9 THEN 'test' ELSE 'train' END AS split
        FROM ({_CC_ORACLE.format(jaccard="SELECT doc_a, doc_b FROM pr")}) comps),
    crossed AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cross_split_pairs
        FROM pr JOIN assigned a ON pr.doc_a = a.doc_id
                JOIN assigned b ON pr.doc_b = b.doc_id
        WHERE a.split <> b.split)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_clusters,
           cross_split_pairs
    FROM assigned CROSS JOIN crossed
    GROUP BY split, cross_split_pairs
    ORDER BY split
    """


SIMHASH_BITS = 60  # md5's first 15 hex digits — DuckDB-reproducible
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
SIMHASH_MAX_DIST = 3  # 4 bands ⇒ pigeonhole-exact recall for dist ≤ 3


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) 60-bit SimHash per document: bit b is set iff
    the sum over token occurrences of ±1 (per bit b of the token's
    hash) is non-negative.

    The token hash is the first 15 hex digits of md5 parsed as an
    integer — 60 bits, bit-identical in DuckDB (the text_fingerprint
    parity device), which is what makes the WHOLE pair query below
    oracle-mirrorable; the one-line swap to xxhash64 (64 bits, 16×16
    bands) is the production spelling and changes nothing structural.

    Computed as ONE hash aggregation over the exploded token-hash
    posting list — 60 sum expressions share each row's hash and get
    map-side partial aggregation. (The array-lambda form re-evaluates
    tokenization per vote via CollapseProject + per-element
    higher-order evaluation — same pathology as the MinHash
    signature, see minhash_signature_agg.)

    Token *occurrences* vote (not distinct tokens): frequency
    weighting is standard SimHash. Documents with zero tokens get the
    all-ones signature (every empty vote is >= 0), matching the
    aggregate-over-empty-array semantics, via the left join + zero
    fill."""
    md5_int = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    posting = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("t")
    ).select("doc_id", md5_int.alias("h"))
    votes = posting.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    votes = (
        docs.select("doc_id")
        .join(votes, "doc_id", "left")
        .na.fill({f"v{b}": 0 for b in range(SIMHASH_BITS)})
    )
    sig = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("doc_id", sig.alias("simhash"))


def _simhash_oracle() -> str:
    vote_cols = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig_expr = " + ".join(
        f"CASE WHEN COALESCE(v.v{b}, 0) >= 0 THEN {1 << b}::BIGINT ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents),
    hashed AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
        FROM toks),
    votes AS (
        SELECT doc_id,
               {vote_cols}
        FROM hashed GROUP BY doc_id),
    sigs AS (
        SELECT d.doc_id, {sig_expr} AS sig
        FROM documents d LEFT JOIN votes v USING (doc_id)),
    bands AS (
        SELECT doc_id, sig, t.b AS band_id,
               (sig >> (t.b * {SIMHASH_BAND_BITS})) & {mask} AS band_bits
        FROM sigs, range(0, {SIMHASH_BANDS}) t(b)),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.sig, b.sig)) AS hd
        FROM bands a JOIN bands b USING (band_id, band_bits)
        WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(hd AS INTEGER) AS hamming_dist
    FROM pairs WHERE hd <= {SIMHASH_MAX_DIST} ORDER BY doc_a, doc_b
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= 3.

    15-bit band blocking over the 60-bit signature: any pair within
    distance 3 must agree on >= 1 of the 4 bands (pigeonhole), so
    recall is exact for the distance bound — no probabilistic miss.

    Full-mirror oracle (round-6 verdict #2): with md5-derived token
    hashes (see simhash_signatures) every stage — votes, signature
    bits, band blocking, Hamming filter — is integer arithmetic DuckDB
    reproduces bit-for-bit, so the pair list itself hash-matches.
    """
    from pwir_zadanie_4_mapreduce_spark.catalog import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    sigs = simhash_signatures(docs)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_id", "band_bits"),
    )
    left = banded.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
                         "band_id", "band_bits")
    right = banded.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
                          "band_id", "band_bits")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        left.join(right, ["band_id", "band_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming_dist"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming_dist") <= SIMHASH_MAX_DIST)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
                 / (a.nrm * b.nrm), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
          / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold, exact.

    Brute-force normalized dot product over the pair space — correct
    and oracle-checkable at test SF. The 100 TB path replaces the
    pair join with LSH bucketing (similarity.py) or blocked matmul.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # compute dot(raw)/(norm_a·norm_b) in the SAME association order as
    # the oracle so borderline pairs agree bit-for-bit at the threshold
    prepped = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    a = prepped.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("nrm_a")
    )
    b = prepped.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nrm_b")
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", dround("cosine", 4).alias("cosine"))
    )


RP_DEDUP_PLANES = 16  # sign bits per signature
RP_DEDUP_BANDS = 4  # bands of RP_DEDUP_PLANES / RP_DEDUP_BANDS bits each


def _rp_dedup_model() -> list[list[float]]:
    """The 16 md5-derived hyperplanes (similarity._hyperplane — shared
    model convention: deterministic constants both engines inline)."""
    from pwir_zadanie_4_mapreduce_spark.operators.similarity import _hyperplane

    return [_hyperplane(p) for p in range(RP_DEDUP_PLANES)]


def _rp_dedup_sig_spark() -> str:
    from pwir_zadanie_4_mapreduce_spark.operators.similarity import _sql_fold_dot

    return " + ".join(
        f"IF({_sql_fold_dot('v', plane)} >= 0, {1 << p}L, 0L)"
        for p, plane in enumerate(_rp_dedup_model())
    )


def _rp_dedup_sig_duck() -> str:
    terms = []
    for p, plane in enumerate(_rp_dedup_model()):
        lits = ", ".join(repr(h) for h in plane)
        terms.append(
            f"CASE WHEN list_sum(list_transform(list_zip(v, [{lits}]),"
            f" z -> z[1] * z[2])) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END"
        )
    return " + ".join(terms)


_RP_BAND_W = 1 << (RP_DEDUP_PLANES // RP_DEDUP_BANDS)  # values per band


@register(
    "dedup_embedding_rp_lsh",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings),
    sig AS (SELECT vec_id, v, nrm, {_rp_dedup_sig_duck()} AS sig FROM e),
    bands AS (SELECT vec_id, k,
                     (sig // CAST(pow({_RP_BAND_W}, k) AS BIGINT)) % {_RP_BAND_W} AS bv
              FROM sig, (SELECT unnest(range({RP_DEDUP_BANDS})) AS k)),
    cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             FROM bands a JOIN bands b
               ON a.k = b.k AND a.bv = b.bv AND a.vec_id < b.vec_id)
    SELECT c.vec_a, c.vec_b,
           ROUND(list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]))
                 / (x.nrm * y.nrm), 4) AS cosine
    FROM cand c JOIN sig x ON x.vec_id = c.vec_a
                JOIN sig y ON y.vec_id = c.vec_b
    WHERE list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]))
          / (x.nrm * y.nrm) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via RANDOM-HYPERPLANE LSH BANDING —
    the bucketed scale path dedup_embedding_cosine's docstring promises
    (that op is the declared all-pairs exactness reference, slope 1.89).

    16 sign bits (md5-derived constant hyperplanes, one fused
    projection pass) split into 4 bands of 4 bits; a pair is a
    CANDIDATE iff some band matches, so the pair join ships only
    (band, band_value, vec_id) — never vectors — and the exact-cosine
    verify join touches candidates only. Measured at sf0.01 against
    the exhaustive τ=0.4 pair set (pytest-pinned): candidates 28 823
    of 124 750 pairs (23.1 %), recall 40/59 = 0.678. The fixture's
    max cosine is 0.51, so the demo τ must sit at 0.4 — a HARD LSH
    regime (p_band = cos-agreement⁴ ≈ 0.63⁴); at a production
    near-dup threshold (τ≈0.9) the SAME config is MEASURED at 119/120
    recall on a planted-pair fixture (cosines 0.902-0.985,
    md5-deterministic; tests/test_rp_recall.py pins the table) while
    random pairs collide at ≈23 % — and widening to 8 bands × 8 bits
    (64 planes) measures 120/120 with ~5× fewer random collisions:
    bands × bits is the declared tuning surface, exactly minhash's
    b×r trade.

    100 TB: signatures are a projection (no shuffle); the band join
    shuffles 4 small rows per vector; bucket skew is bounded because a
    4-bit band has 16 values over sign-random bits. Full-mirror
    oracle: DuckDB re-runs signature, banding, candidate join, and
    verify verbatim — the surviving pair set hash-matches."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    sig = e.select(
        "vec_id",
        "v",
        l2_norm(F.col("v")).alias("nrm"),
        F.expr(_rp_dedup_sig_spark()).alias("sig"),
    ).transform(cut_lineage)
    band_vals = F.array(
        *[
            (F.col("sig") / F.lit(_RP_BAND_W**k)).cast("long") % _RP_BAND_W
            for k in range(RP_DEDUP_BANDS)
        ]
    )
    bands = sig.select(
        "vec_id", F.posexplode(band_vals).alias("k", "bv")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    x = sig.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    y = sig.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", dround("cosine", 4).alias("cosine"))
    )


@register(
    "graph_triangle_count",
    oracle=None,  # composed below from the dedup_ngram_jaccard oracle
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the near-duplicate graph — the graph
    analytics shape beyond connected components (clustering
    coefficient, community density). Edges = exact-Jaccard near-dup
    pairs; triangles enumerated with the canonical a<b<c two-join
    plan over the ORIENTED edge list (each edge stored low→high id),
    so every triangle is produced exactly once and the join fan-out
    is bounded by out-degree under the orientation — the standard
    MapReduce triangle algorithm.

    100 TB: orient by degree (low-degree endpoint first) instead of
    by id to bound skew on hubs; edges here are near-dup pairs, whose
    degree is already capped by cluster sizes. One pair-generation
    pass + two self-joins on skinny (long, long) rows."""
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .transform(cut_lineage)  # pair generation runs once, feeds 3 legs
    )
    e1 = pairs.select(F.col("a"), F.col("b"))
    e2 = pairs.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = pairs.select(F.col("a").alias("ta"), F.col("b").alias("c"))
    wedges = e1.join(e2, "b")  # a < b < c by orientation
    triangles = wedges.join(
        e3, (F.col("ta") == F.col("a")) & (e3["c"] == wedges["c"])
    )
    return triangles.agg(F.count("*").alias("n_triangles"))


_ORACLES["graph_triangle_count"] = f"""
    WITH jp AS ({_ORACLES["dedup_ngram_jaccard"]}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM jp)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
      ON e3.a = e1.a AND e3.b = e2.b
"""


SPAN_K = 10          # positional shingle width (tokens)
SPAN_MIN_TOKENS = 15  # report pairs sharing a run of at least this many tokens


@register(
    "dedup_substring_span",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= {SPAN_K}),
    p AS (
        SELECT doc_id,
               UNNEST(list_transform(
                   range(1, len(w) - {SPAN_K - 1} + 1),
                   i -> {{'pos': i,
                          's': array_to_string(w[i:i+{SPAN_K - 1}], ' ')}})) AS u
        FROM t),
    q AS (SELECT doc_id, u.pos AS pos, u.s AS s FROM p),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, a.pos - b.pos AS delta
        FROM q a JOIN q b ON a.s = b.s AND a.doc_id < b.doc_id),
    isl AS (
        SELECT doc_a, doc_b, delta, pa,
               pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, delta
                                       ORDER BY pa) AS grp
        FROM m),
    runs AS (
        SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run
        FROM isl GROUP BY doc_a, doc_b, delta, grp)
    SELECT doc_a, doc_b,
           CAST(MAX(run) + {SPAN_K - 1} AS BIGINT) AS span_tokens,
           CAST(SUM(run) AS BIGINT) AS n_matches
    FROM runs GROUP BY doc_a, doc_b
    HAVING MAX(run) + {SPAN_K - 1} >= {SPAN_MIN_TOKENS}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-shared-token-run dedup — the positional complement to
    set-based Jaccard (the "substring dedup" of Lee et al. 2022,
    *Deduplicating Training Data Makes Language Models Better*,
    arXiv:2107.06499, done with positional shingles instead of a
    suffix array): two docs sharing ANY SPAN_K-token window share a
    positional shingle; consecutive shared windows at the SAME offset
    delta chain into runs, and max(run) + K - 1 is exactly the length
    of the longest common token substring (>= K).

    Plan: positional shingle hashes via the zip_with token-hash fold
    (no shingle strings materialized), self-join on the hash, then the
    gaps-and-islands trick per (pair, offset-delta) — one window pass
    + two aggregations on skinny rows. 100 TB: identical skew story to
    the Jaccard family (a df-cap on the posting bounds hub shingles);
    runs never materialize token arrays.
    """
    from pwir_zadanie_4_mapreduce_spark.catalog import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = F.split("text", " ")
    docs = docs.withColumn("th", F.transform(toks, lambda x: F.xxhash64(x))).filter(
        F.size("th") >= SPAN_K
    )
    k = F.size("th") - (SPAN_K - 1)
    acc = F.slice("th", 1, k)
    for i in range(1, SPAN_K):
        acc = F.zip_with(acc, F.slice("th", i + 1, k), lambda a, b: F.xxhash64(a, b))
    posting = docs.select(
        "doc_id", F.posexplode(acc).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    a = posting.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = posting.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h")
    m = (
        # merge-join hint (r11 sf10 catch): both sides are the
        # corpus-sized positional posting — never broadcastable; the
        # estimate-driven broadcast overflowed the driver at sf10.
        # Plan-pinned by test_plans.py::test_substring_span_self_join_pinned_to_sort_merge.
        a.join(b.hint("merge"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("delta"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
    isl = m.withColumn("grp", F.col("pa") - F.row_number().over(w))
    runs = isl.groupBy("doc_a", "doc_b", "delta", "grp").agg(
        F.count("*").alias("run")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run") + (SPAN_K - 1)).alias("span_tokens"),
            F.sum("run").alias("n_matches"),
        )
        .filter(F.col("span_tokens") >= SPAN_MIN_TOKENS)
        .orderBy("doc_a", "doc_b")
    )


CONTAINMENT_THRESHOLD = 0.9


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_CO_SQL}
    SELECT doc_a, doc_b,
           ROUND(inter::DOUBLE / least(sa.n, sb.n), 4) AS containment
    FROM co JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
    WHERE inter::DOUBLE / least(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.9 over the
    same hashed 3-word shingles as the Jaccard family. Containment is
    the metric for SUBSET duplication — a short doc fully embedded in
    a long one scores ~1.0 here but low on Jaccard (the union dwarfs
    the intersection), which is why production dedup runs both.

    Plan: identical count-based co-occurrence shape to
    dedup_ngram_jaccard — one posting self-join + one pair aggregation
    over skinny longs — EXCEPT the size-ratio prune must not apply
    (asymmetric containment is precisely about unequal sizes), so the
    100 TB skew guard is the df-cap (dedup_ngram_jaccard_dfcap's
    device), not the ratio. Cost remains Σ_h C(df_h, 2)."""
    sh = _hashed_shingles(spark, sf_dir).transform(cut_lineage)
    posting = sh.select("doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("h"))
    a = posting.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "h")
    b = posting.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    cont = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    return (
        common.filter(cont >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", dround(cont, 4).alias("containment"))
    )


@register(
    "dedup_exact_normalized",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS ntext
      FROM documents
    )
    SELECT MIN(doc_id) AS doc_id,
           md5(ntext) AS norm_md5,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM norm
    GROUP BY ntext
    HAVING COUNT(*) > 1
    ORDER BY doc_id
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: casefold + whitespace-collapse BEFORE
    hashing, so trivially-reformatted copies collapse (the first rung
    between byte-exact dedup and the shingle families — catches the
    'same text, different wrapping' duplicates crawler output is full
    of). Survivor = min doc_id; only actual duplicate groups emitted.

    Same hash-groupBy plan as dedup_exact; at scale group on the
    16-byte digest of the NORMALIZED text so neither raw nor
    normalized strings shuffle. The normalization is the policy knob —
    production pipelines add punctuation stripping and unicode
    NFKC here, same plan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ntext = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select("doc_id", ntext.alias("ntext"))
        .groupBy("ntext")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("doc_id", F.md5("ntext").alias("norm_md5"), "n_copies")
        .orderBy("doc_id")
    )


@register(
    "dedup_cluster_size_histogram",
    # oracle patched below from the CC oracle (recursive CTE) — same
    # mechanism as dedup_cluster_components
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many clusters of 2, 3,
    … documents the near-dup graph contains — the dedup run's summary
    report (the number every pipeline dashboard shows: '12% of the
    corpus is in duplicate clusters, largest cluster 40 docs').
    Composes connected components with two tiny aggregations;
    singleton 'clusters' are excluded (they're just unique docs).

    100 TB note: both aggregations run over the |V|-sized label table,
    not the corpus; the histogram itself is max-cluster-size rows."""
    labels = dedup_cluster_components(spark, sf_dir)
    sizes = labels.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.filter(F.col("cluster_size") > 1)
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


_ORACLES["dedup_cluster_size_histogram"] = f"""
    WITH cc AS ({_ORACLES["dedup_cluster_components"]}),
    sizes AS (
      SELECT canonical_id, COUNT(*) AS cluster_size FROM cc GROUP BY canonical_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes WHERE cluster_size > 1
    GROUP BY cluster_size ORDER BY cluster_size
"""


@register(
    "quality_dup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           ROUND(1.0 - COUNT(DISTINCT md5(text)) / (1.0 * COUNT(*)), 4)
               AS dup_rate
    FROM documents GROUP BY source ORDER BY source
    """,
)
def quality_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the curation dashboard number
    that decides which feeds need dedup before mixing (a source at 30%
    self-duplication overweights its content in the training blend).
    Compose-level sibling of dedup_exact: same digest grouping, rolled
    up to the per-source rate instead of listing the groups.

    Plan: digest computed in the scan projection; two-level distinct
    aggregation on (source, digest) — shuffle volume is unique digests,
    never text. At 100 TB the digest column is typically materialized
    once at ingest and this query never touches text at all."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("digest")
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("digest").alias("n_unique"),
            dround(
                1.0 - F.countDistinct("digest") / (1.0 * F.count("*")), 4
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "quality_split_leakage_audit",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, md5(text) AS digest,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                    THEN 'test'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'valid'
                  ELSE 'train' END AS split
      FROM documents
    ),
    grp AS (
      SELECT digest,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT split) AS n_splits,
             CAST(MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                  + MAX(CASE WHEN split <> 'train' THEN 1 ELSE 0 END)
                  AS INTEGER) AS spans_eval
      FROM tagged GROUP BY digest
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) FILTER (n_docs > 1) AS BIGINT) AS n_dup_groups,
           CAST(COUNT(*) FILTER (n_splits > 1) AS BIGINT) AS n_split_spanning,
           CAST(COUNT(*) FILTER (spans_eval = 2) AS BIGINT) AS n_leaky_groups,
           CAST(COALESCE(SUM(n_docs) FILTER (spans_eval = 2), 0) AS BIGINT)
               AS n_docs_in_leaky
    FROM grp
    """,
)
def quality_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: exact-duplicate groups that
    straddle the train boundary — the leakage every eval pipeline must
    rule out (a doc whose twin sits in train inflates held-out scores;
    random or hash splits assign duplicates independently, so SOME
    leakage is the default, not the exception). Composes the exact
    dedup digest with the md5-prefix split assignment and reports the
    group-level ledger; the near-dup analog swaps the digest for the
    minhash cluster id (dedup_cluster_components).

    Plan: one scan computes digest + split in the projection; one
    digest-keyed aggregation carries (count, distinct splits,
    train/eval flags); the ledger is a 1-row rollup of the
    digests-bounded group table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "0d", "test").when(bucket < "1a", "valid").otherwise("train")
    )
    tagged = docs.select(F.md5("text").alias("digest"), split.alias("split"))
    grp = tagged.groupBy("digest").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
        (
            F.max(F.when(F.col("split") == "train", 1).otherwise(0))
            + F.max(F.when(F.col("split") != "train", 1).otherwise(0))
        ).cast("int").alias("spans_eval"),
    )
    leaky = F.col("spans_eval") == 2
    return grp.agg(
        F.count("*").alias("n_groups"),
        F.count(F.when(F.col("n_docs") > 1, 1)).alias("n_dup_groups"),
        F.count(F.when(F.col("n_splits") > 1, 1)).alias("n_split_spanning"),
        F.count(F.when(leaky, 1)).alias("n_leaky_groups"),
        F.coalesce(F.sum(F.when(leaky, F.col("n_docs"))), F.lit(0)).alias(
            "n_docs_in_leaky"
        ),
    )


SPAN_TOKENS = 8  # non-overlapping span width for corpus-frequency dedup


@register(
    "dedup_repeated_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    raw AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST(ceil(len(toks) / {SPAN_TOKENS}.0) AS INT)),
                   i -> array_to_string(
                       toks[i * {SPAN_TOKENS} + 1 : i * {SPAN_TOKENS} + {SPAN_TOKENS}],
                       ' '))) AS span
        FROM t),
    s AS (SELECT doc_id, md5(span) AS h FROM raw),
    f AS (SELECT h, COUNT(*) AS c FROM s GROUP BY h)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (WHERE f.c >= 2) AS BIGINT) AS n_dup_spans,
           ROUND(COUNT(*) FILTER (WHERE f.c >= 2) * 1.0 / COUNT(*), 4)
               AS dup_span_ratio
    FROM s JOIN f USING (h)
    GROUP BY s.doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency span dedup (the C4 "repeated lines" rule of
    Raffel et al. 2019, restated over fixed token spans because the
    fixture text has no line structure): each doc is cut into
    NON-overlapping 8-token spans, span frequency is counted across
    the WHOLE corpus, and every doc reports how much of it is
    boilerplate that other docs (or itself) also contain — the signal
    C4 uses to strip headers/footers/templates before training.

    Plan: one scan builds the span digests in the projection
    (sequence + slice + md5, all codegen); ONE groupBy on the 32-char
    digest counts corpus frequency — the span STRINGS never shuffle,
    only their md5 keys (at 100 TB spans are long; shipping digests is
    the difference between a bounded-width shuffle and a text
    shuffle); the frequency join back is digest-keyed and the per-doc
    rollup is a count/count_if agg. DuckDB mirrors digesting, so the
    frequency table and the per-doc ratios hash-match exactly.

    Generalizes O8 (reduce over a derived key space) the same way the
    shingle dedups do; the span cut is the 1-D analog of O11's block
    partitioning applied to token positions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    n_spans = F.ceil(F.size(toks) / float(SPAN_TOKENS)).cast("int")
    span_digests = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.md5(
            F.array_join(F.slice(toks, i * SPAN_TOKENS + 1, SPAN_TOKENS), " ")
        ),
    )
    sp = docs.select("doc_id", F.explode(span_digests).alias("h"))
    freq = sp.groupBy("h").agg(F.count("*").alias("c"))
    dup = F.count(F.when(F.col("c") >= 2, 1))
    return (
        sp.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("n_dup_spans"),
            dround(dup * 1.0 / F.count("*"), 4).alias("dup_span_ratio"),
        )
    )


SEMANTIC_DUP_THRESHOLD = 0.35  # fixture cosines top out near 0.51
SEMDEDUP_K = 16  # coarse clusters; scales with corpus size at 100 TB

_SEM_COS_AB = (
    "list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))"
    " / (a.nrm * b.nrm)"
)


@register(
    "dedup_semantic_centroid",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
             FROM e ORDER BY vec_id LIMIT {SEMDEDUP_K}),
    amax AS (
        -- streaming arg_max mirrors Spark's max_by((ccos, -id)) struct
        -- tie-break exactly (both lexicographic); the r11 QUALIFY
        -- ROW_NUMBER spelling sorted the n x k array-carrying cross
        -- join (~9e7 wide rows at sf10) and spilled >78 GB — the agg
        -- keeps only n group states
        SELECT e.vec_id,
               -(MAX(struct_pack(
                     c := list_sum(list_transform(list_zip(e.v, c.cv),
                              z -> z[1] * z[2])) / (e.nrm * c.cn),
                     nid := -c.centroid_id))).nid AS centroid_id
        FROM e CROSS JOIN cent c
        GROUP BY e.vec_id),
    assigned AS (
        SELECT e.vec_id, e.v, e.nrm, a.centroid_id
        FROM e JOIN amax a USING (vec_id)),
    pairs AS (
        SELECT b.vec_id, b.centroid_id, a.vec_id AS dup_of,
               {_SEM_COS_AB} AS cosine
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE {_SEM_COS_AB} >= {SEMANTIC_DUP_THRESHOLD})
    SELECT vec_id, centroid_id, MIN(dup_of) AS dup_of,
           ROUND(arg_min(cosine, dup_of), 4) AS dup_cosine
    FROM pairs GROUP BY vec_id, centroid_id
    """,
)
def dedup_semantic_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    that never forms the all-pairs cosine join — vectors are routed to
    coarse k-means-style clusters first, and near-duplicate pairs are
    searched WITHIN clusters only. A vector is dropped iff a lower-id
    vector in ITS cluster has cosine >= threshold (deterministic
    survivor rule, same min-id convention as dedup_exact); output is
    the dropped set with its witness (lowest qualifying dup_of) and
    that witness's cosine.

    Plan: the k=16 seed codebook (lowest vec_ids, the sim_topk_ivf
    convention) is a bounded k x dim collect that rides the plan as
    literals — assignment is _assign_book_lit's ZERO-exchange narrow
    projection; the pair join keys on centroid_id so candidate volume
    is sum over clusters of n_c^2/2, not n^2/2 (the SemDeDup point:
    with k grown ~sqrt(n) at 100 TB the expected pair count is ~n^1.5,
    and each cluster's pairs co-locate in one shuffle partition).
    Full-mirror oracle: seed codebook, argmax assignment (QUALIFY
    tie-break on centroid_id), in-cluster pair scan, and the min-id
    witness agg are re-run verbatim in DuckDB on the same fold-ordered
    double sums, so the dropped set hash-matches bit-for-bit."""
    from pwir_zadanie_4_mapreduce_spark.operators.similarity import (
        _assign_book_lit,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    book = {
        r["centroid_id"]: list(r["cv"])
        for r in e.orderBy("vec_id")
        .limit(SEMDEDUP_K)
        .select(F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv"))
        .collect()
    }
    assigned = _assign_book_lit(e, book).transform(cut_lineage)
    a = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("dup_of"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        "centroid_id",
        "vec_id",
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, ["centroid_id"])
        .filter(F.col("dup_of") < F.col("vec_id"))
        .select("vec_id", "centroid_id", "dup_of", cos.alias("cosine"))
        .filter(F.col("cosine") >= SEMANTIC_DUP_THRESHOLD)
    )
    return pairs.groupBy("vec_id", "centroid_id").agg(
        F.min("dup_of").alias("dup_of"),
        dround(F.min_by("cosine", "dup_of"), 4).alias("dup_cosine"),
    )


RP_WIDE_MAX_BITS = 16  # per-band hyperplane stash (band k owns planes k*16+j)
RP_WIDE_TARGET_BUCKET = 32  # expected band-bucket occupancy the width maintains
RP_WIDE_RECALL_TAU = 0.9  # production near-dup regime the band count protects
# bit-agreement probability at cosine tau: 1 - theta/pi (Charikar 2002)
_RP_A_TAU = 1.0 - math.acos(RP_WIDE_RECALL_TAU) / math.pi
_LN10 = 2.302585092994046  # -ln(0.1): caps per-pair miss probability at 10 %
# bands at the maximum width — the oracle enumerates this many branches
RP_WIDE_MAX_BANDS = math.ceil(_LN10 / _RP_A_TAU**RP_WIDE_MAX_BITS)


def _rp_wide_cfg(n: int) -> tuple[int, int]:
    """(bits, bands) for a corpus of n vectors.

    Fixed-width banding is structurally quadratic: a random pair
    collides in a b-bit band with constant probability, so candidates
    grow as C(n,2)*bands/2^b — measured 7.5e8 at sf10 for the old
    fixed 8x8 config (2048 buckets total, every one full; the Spark
    side OOMed an 8g heap and DuckDB could never verify them). Width
    must grow with log n to hold bucket occupancy constant:

      bits  = clamp(ceil(log2(n / TARGET_BUCKET)), 8, MAX_BITS)
      bands = ceil(ln 10 / a^bits),  a = bit-agreement at tau=0.9

    which keeps expected candidates ~n*bucket/2 per band (linear in n
    until bits saturates at MAX_BITS) and recall >= 90 % at the
    tau=0.9 near-dup regime. At n <= 8192 this reduces to exactly the
    historical 8 bands x 8 bits. Both formulas are spelled identically
    in the DuckDB oracle (LOG2/POWER/CEIL on the same IEEE doubles) —
    the scaled-SemDeDup k=floor(sqrt(n)) convention."""
    bits = 8 if n <= 0 else max(
        8,
        min(RP_WIDE_MAX_BITS, math.ceil(math.log2(n / float(RP_WIDE_TARGET_BUCKET)))),
    )
    bands = math.ceil(_LN10 / _RP_A_TAU**bits)
    return bits, bands


def _rp_wide_plane(k: int, j: int) -> list[float]:
    """Hyperplane for bit j of band k. Width-independent AND
    backward-compatible: the historical 8x8 config (bands 0-7, bits
    0-7) keeps its exact r11 planes 0..63 — so every n<=8192 output,
    the planted-recall pins, and the committed small-sf hashes are
    unchanged — while widening draws NEW planes from disjoint regions
    (64.. for extra bits of the first 8 bands, 128.. for extra bands,
    16 per band). A given (band, bit) never re-derives as the config
    grows."""
    from pwir_zadanie_4_mapreduce_spark.operators.similarity import _hyperplane

    if k < 8 and j < 8:
        return _hyperplane(k * 8 + j)  # the r11 8x8 plane set, verbatim
    if k < 8:
        return _hyperplane(64 + k * 8 + (j - 8))
    return _hyperplane(128 + (k - 8) * RP_WIDE_MAX_BITS + j)


def _rp_wide_band_spark(k: int, bits: int) -> str:
    """Spark-SQL expression for band k's bits-wide value — per-band
    integers sidestep the 1<<63 overflow a single wide signature hits."""
    from pwir_zadanie_4_mapreduce_spark.operators.similarity import _sql_fold_dot

    return " + ".join(
        f"IF({_sql_fold_dot('v', _rp_wide_plane(k, j))} >= 0, {1 << j}L, 0L)"
        for j in range(bits)
    )


def _rp_wide_oracle() -> str:
    """Full-mirror oracle with the hyperplane MODEL generated in SQL.

    The first spelling enumerated 28 band branches x 16 literal-vector
    lambdas (~600 KB of SQL, 448 lambda expressions) and cost ~30 s of
    DuckDB bind time PER RUN, constant at every sf. Planes are instead
    derived in-engine from the same md5 formula as
    similarity._hyperplane — verified bit-equal (('0x'||substr(md5(
    idx:d),1,15))::BIGINT reproduces Python's int(hexdigest[:15],16)
    exactly) — so the whole band stage is ONE grouped lambda over a
    generated (k, j, plane) table, and the width mask is a WHERE, not
    448 CASE terms. The plane-index CASE mirrors _rp_wide_plane's
    backward-compatible regions verbatim."""
    from pwir_zadanie_4_mapreduce_spark.operators.similarity import EMB_DIM

    return f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings),
    cfg AS (
        SELECT bits,
               CAST(CEIL({_LN10!r} / POWER({_RP_A_TAU!r}, bits)) AS BIGINT) AS bands
        FROM (SELECT GREATEST(8, LEAST({RP_WIDE_MAX_BITS},
                 CAST(CEIL(LOG2(COUNT(*) / {float(RP_WIDE_TARGET_BUCKET)!r})) AS BIGINT)))
                 AS bits FROM e)),
    planes AS (
        SELECT k.k, j.j,
               list_transform(range({EMB_DIM}), d ->
                   (('0x' || substr(md5(
                        (CASE WHEN k.k < 8 AND j.j < 8 THEN k.k * 8 + j.j
                              WHEN k.k < 8 THEN 64 + k.k * 8 + (j.j - 8)
                              ELSE 128 + (k.k - 8) * {RP_WIDE_MAX_BITS} + j.j END)
                        || ':' || d), 1, 15))::BIGINT % 2001 - 1000) / 1000.0) AS pl
        FROM range({RP_WIDE_MAX_BANDS}) k(k) CROSS JOIN range({RP_WIDE_MAX_BITS}) j(j)),
    bands AS (
        SELECT e.vec_id, p.k,
               SUM(CASE WHEN list_sum(list_transform(list_zip(e.v, p.pl),
                             z -> z[1] * z[2])) >= 0
                        THEN (CAST(1 AS BIGINT) << p.j)
                        ELSE CAST(0 AS BIGINT) END) AS bv
        FROM e CROSS JOIN planes p CROSS JOIN cfg
        WHERE p.k < cfg.bands AND p.j < cfg.bits
        GROUP BY e.vec_id, p.k),
    cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             FROM bands a JOIN bands b
               ON a.k = b.k AND a.bv = b.bv AND a.vec_id < b.vec_id)
    SELECT c.vec_a, c.vec_b,
           ROUND(list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]))
                 / (x.nrm * y.nrm), 4) AS cosine
    FROM cand c JOIN e x ON x.vec_id = c.vec_a
                JOIN e y ON y.vec_id = c.vec_b
    WHERE list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2]))
          / (x.nrm * y.nrm) >= {COSINE_DUP_THRESHOLD}
    """


@register("dedup_embedding_rp_lsh_wide", oracle=_rp_wide_oracle())
def dedup_embedding_rp_lsh_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION RP-LSH configuration the 16-bit op's docstring
    promises — now with DATA-DERIVED width (r12): bits-per-band =
    clamp(ceil(log2(n/32)), 8, 16) holds expected bucket occupancy at
    ~32 vectors as the corpus grows, and bands = ceil(ln10 / a^bits)
    (a = bit-agreement at cosine 0.9) holds recall >= 90 % at the
    tau=0.9 near-dup regime. At fixture scale (n <= 8192) this is
    exactly the historical 8 bands x 8 bits; at sf10 it is 18 bands x
    13 bits. The r12 sf10 sweep measured WHY fixed width cannot ship:
    8-bit bands at n=200k put 200k vectors in 256 buckets per band —
    7.5e8 candidate pairs, OOMing the Spark side and unverifiable in
    any engine; candidates under fixed width grow as C(n,2)*bands/2^b
    no matter how good the fixture is. Width-vs-n is the same
    data-derived scale knob as dedup_semantic_centroid_scaled's
    k=floor(sqrt(n)).

    Recall at LOW thresholds remains the declared trade (at the
    fixture's hard tau=0.4 regime bit-agreement is 0.63 and recall
    ~18 %); at tau>=0.9 it is MEASURED on a planted-pair fixture
    (cosines 0.902-0.985, md5-deterministic) — tests/test_rp_recall.py
    pins the full recall table; bands x bits is the tuning surface and
    this op IS the production end of the trade.

    Plan shape: one fused projection computes all band values (bands x
    bits literal-vector dots in codegen), the band self-join ships
    (k, bv, vec_id) only and is PINNED sort-merge (the bands relation
    is corpus-sized — the r11 estimate-driven-broadcast class), the
    exact verify touches candidates alone with both array-carrying
    corpus sides pinned sort-merge too. Full-mirror oracle: DuckDB
    derives the same width from COUNT(*), recomputes the md5-derived
    hyperplanes, band values (computed at max width and masked with
    & (2^bits - 1)), candidate join and verify on fold-ordered
    doubles — the surviving pair set hash-matches."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n = e.count()  # bounded driver scalar — width is a function of it
    bits, bands = _rp_wide_cfg(n)
    sig = e.select(
        "vec_id",
        "v",
        l2_norm(F.col("v")).alias("nrm"),
        F.array(
            *[F.expr(_rp_wide_band_spark(k, bits)) for k in range(bands)]
        ).alias("bvs"),
    ).transform(cut_lineage)
    band_rows = sig.select("vec_id", F.posexplode("bvs").alias("k", "bv"))
    cand = (
        band_rows.alias("a")
        .join(
            # merge pin: band_rows is corpus-sized (n x bands); the
            # post-explode estimate must never drive a broadcast
            band_rows.alias("b").hint("merge"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    x = sig.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    y = sig.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        # merge pins: x/y carry the 64-double corpus arrays — never
        # broadcast-sized, whatever the estimates say
        cand.join(x.hint("merge"), "vec_a")
        .join(y.hint("merge"), "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", dround("cosine", 4).alias("cosine"))
    )


SEMDEDUP_K_MIN = 16  # floor so tiny fixtures keep a multi-cluster plan


@register(
    "dedup_semantic_centroid_scaled",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings),
    kk AS (SELECT GREATEST({SEMDEDUP_K_MIN},
                           CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))
               AS k FROM e),
    cent AS (
        SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
        FROM e CROSS JOIN kk
        QUALIFY ROW_NUMBER() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= kk.k),
    amax AS (
        -- streaming arg_max mirrors Spark's max_by((ccos, -id)) struct
        -- tie-break exactly (both lexicographic); the r11 QUALIFY
        -- ROW_NUMBER spelling sorted the n x k array-carrying cross
        -- join (~9e7 wide rows at sf10) and spilled >78 GB — the agg
        -- keeps only n group states
        SELECT e.vec_id,
               -(MAX(struct_pack(
                     c := list_sum(list_transform(list_zip(e.v, c.cv),
                              z -> z[1] * z[2])) / (e.nrm * c.cn),
                     nid := -c.centroid_id))).nid AS centroid_id
        FROM e CROSS JOIN cent c
        GROUP BY e.vec_id),
    assigned AS (
        SELECT e.vec_id, e.v, e.nrm, a.centroid_id
        FROM e JOIN amax a USING (vec_id)),
    pairs AS (
        SELECT b.vec_id, b.centroid_id, a.vec_id AS dup_of,
               {_SEM_COS_AB} AS cosine
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE {_SEM_COS_AB} >= {SEMANTIC_DUP_THRESHOLD})
    SELECT vec_id, centroid_id, MIN(dup_of) AS dup_of,
           ROUND(arg_min(cosine, dup_of), 4) AS dup_cosine
    FROM pairs GROUP BY vec_id, centroid_id
    """,
)
def dedup_semantic_centroid_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with DATA-DERIVED k — the 100 TB answer the fixed-k
    sibling's docstring names: k = max(16, floor(sqrt(n))) grows with
    corpus size, so expected in-cluster pair volume is
    sum_c n_c^2/2 ~ n^2/(2k) ~ n^1.5/2 instead of the fixed-k op's
    n^2/32 (its measured last-decade slope 0.97 — quadratic in
    cluster size). Abbas et al. 2023 (arXiv:2303.09540) run k ~ sqrt(n)
    coarse clusters for exactly this reason.

    Seeds are the k vectors lowest in md5(vec_id) order — a
    deterministic pseudo-random spread both engines reproduce
    bit-identically (md5 hex strings compare equal cross-engine),
    unlike lowest-vec_id seeds whose quality degrades as k grows.

    Plan differences vs the fixed-k literal-codebook sibling, because
    k is no longer plan-literal-sized:
      1. n is ONE bounded count (the data-derived-k point needs it);
      2. the codebook is a TakeOrderedAndProject top-k (no full sort)
         kept as a DataFrame and BROADCAST — at k=2450 (sf10-scale)
         a literal codebook would be megabytes of plan;
      3. assignment is broadcast-crossJoin (n x k rows, map-side only)
         collapsed by ONE groupBy whose max_by partial-aggregates
         before the shuffle — shuffle volume is n rows, not n x k
         (explode + one groupBy, never per-element lambda re-eval);
      4. the argmax tie-break (max cosine, then min centroid_id) is
         max_by over a (cosine, -centroid_id) struct == the oracle's
         ROW_NUMBER ... ORDER BY cos DESC, centroid_id.
    In-cluster pair search and min-id witness agg are the fixed-k
    op's, re-run verbatim in DuckDB on the same fold-ordered sums."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("nrm", l2_norm(F.col("v")))
        .transform(cut_lineage)  # materialize v/nrm: the per-centroid
        # cosine lambdas below must not re-inline the cast transform
    )
    n = e.count()  # bounded driver scalar — k is a function of it
    # floor(sqrt(double)) — the EXACT spelling the oracle uses. NOT
    # math.isqrt: exact integer sqrt diverges from the double path near
    # perfect squares once n exceeds ~4e15 (r11 ADVICE spec-mismatch).
    k = max(SEMDEDUP_K_MIN, int(math.floor(math.sqrt(float(n)))))
    cent = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)  # TakeOrderedAndProject: per-partition top-k, no sort
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )
    ccos = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "nrm", "centroid_id", ccos.alias("ccos"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("ccos"), (-F.col("centroid_id")).alias("nid")),
            ).alias("centroid_id"),
            F.first("v").alias("v"),  # constant within the group
            F.first("nrm").alias("nrm"),
        )
        .transform(cut_lineage)
    )
    a = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("dup_of"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        "centroid_id",
        "vec_id",
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, ["centroid_id"])
        .filter(F.col("dup_of") < F.col("vec_id"))
        .select("vec_id", "centroid_id", "dup_of", cos.alias("cosine"))
        .filter(F.col("cosine") >= SEMANTIC_DUP_THRESHOLD)
    )
    return pairs.groupBy("vec_id", "centroid_id").agg(
        F.min("dup_of").alias("dup_of"),
        dround(F.min_by("cosine", "dup_of"), 4).alias("dup_cosine"),
    )
