"""Training-data pipeline operators, round 2: corpus-level scoring,
chunking, URL dedup, stratified sampling, split assignment, perceptual
hashing.

The reference has none of this surface (SURVEY.md §2 stops at SQL over
ingested tables); these are the operations a 100 TB LLM-corpus pipeline
runs between ingestion and training, expressed Spark-first:

- corpus statistics are two-stage aggregations (map-side partials, one
  shuffle per keyed stage) — never driver-side;
- per-document transforms stay in whole-stage codegen (expression trees,
  no Python);
- sampling/splitting is deterministic key-hashing (stable across runs,
  engines and repartitioning — the join-safe idiom from a10), never RNG.

Determinism note: tx8 deliberately scores documents by *integer* corpus
frequencies instead of log-probabilities — ``ln`` is not guaranteed
correctly-rounded in either engine (Java Math.log vs libm), so a log-prob
oracle could hash-mismatch at the last ulp. Same information, exact
arithmetic.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from apache_iceberg_spark.operators.functions_ext import within_5pct
from apache_iceberg_spark.operators.text import (
    _TOKEN_SPLIT,
    DUCK_HEX2INT,
    SPARK_HEX2INT,
    STOPWORDS,
)
from apache_iceberg_spark.registry import register
from apache_iceberg_spark.tables import load_table, load_table_parallel

_DUCK_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


@register(
    "tx8_term_novelty",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(cnt) AS BIGINT) AS freq_sum,
               CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean_token_freq
        FROM toks JOIN freq USING (tok)
        GROUP BY doc_id
    """,
    doc="Corpus-level term-novelty scoring: global unigram frequencies "
    "(one shuffle on token), joined back to each document's tokens for a "
    "mean-corpus-frequency score — low mean = rare vocabulary = novel "
    "document (the exact-arithmetic stand-in for unigram log-prob "
    "scoring; see module docstring). At 100 TB the frequency table is "
    "dominated by heavy hitters: broadcast the top-K vocabulary and "
    "shuffle-join only the long tail. AQE's dynamic broadcast does this "
    "split automatically when the vocab fits.",
    tags=("text", "llm", "corpus"),
)
def tx8_term_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)).alias(
            "tok"
        ),
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("freq_sum"),
            (F.sum("cnt").cast("double") / F.count("*")).alias(
                "mean_token_freq"
            ),
        )
    )


CHUNK_SIZE = 256
CHUNK_STRIDE = 192  # 64-char overlap between consecutive chunks


@register(
    "tx9_chunking",
    oracle=f"""
        SELECT doc_id,
               unnest(generate_series(1, length(text), {CHUNK_STRIDE}))
                   AS chunk_start,
               substr(text,
                      unnest(generate_series(1, length(text), {CHUNK_STRIDE})),
                      {CHUNK_SIZE}) AS chunk_text
        FROM documents
    """,
    doc=f"Document chunking for context packing: overlapping "
    f"{CHUNK_SIZE}-char windows every {CHUNK_STRIDE} chars (the "
    "embedding/RAG ingestion shape). sequence + explode — generated "
    "distributed on the executors, map-only, no shuffle; row count "
    "grows ~len/stride per doc exactly like the real pipeline.",
    tags=("text", "llm", "chunking"),
)
def tx9_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # empty text is in-domain (s14 hardening): Spark's sequence(1, 0, +s)
    # throws where the oracle's generate_series yields no rows — filter
    # zero-length docs out first, which is exactly the oracle's row set
    d = d.filter(F.length("text") > 0)
    return d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text"), F.lit(CHUNK_STRIDE))
        ).alias("chunk_start"),
        "text",
    ).select(
        "doc_id",
        "chunk_start",
        F.expr(f"substr(text, chunk_start, {CHUNK_SIZE})").alias("chunk_text"),
    )


# Deterministic noisy-URL synthesis: the fixture's `source` column is a
# flat label, so the URL is built from existing columns (mixed scheme and
# case, www, query string, trailing slash — the variants a crawler
# actually emits). The *canonicalization* below is the real operator.
_URL_SQL = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://www.' ELSE 'http://' END, "
    "source, '.Example.COM/', lang, '/page/', "
    "CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=feed&id=', "
    "CAST(doc_id % 5 AS STRING)) ELSE '' END)"
)
_URL_SQL_DUCK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://www.' ELSE 'http://' END, "
    "source, '.Example.COM/', lang, '/page/', "
    "CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=feed&id=', "
    "CAST(doc_id % 5 AS VARCHAR)) ELSE '' END)"
)


def _canon_sql(url: str, bs: str) -> str:
    """scheme→drop, www.→drop, query→drop, trailing /→drop, lowercase —
    identical regex chain on both engines (RE2/Java-compatible syntax).
    ``bs`` is one regex-level backslash as written in that engine's SQL
    string literal: Spark consumes backslash escapes ('\\\\'), DuckDB
    does not ('\\')."""
    return (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"lower({url}), "
        "'^[a-z]+://', ''), "
        f"'^www{bs}.', ''), "
        f"'{bs}?.*$', ''), "
        "'/+$', '')"
    )


@register(
    "dd7_url_dedup",
    oracle=f"""
        WITH u AS (
            SELECT doc_id, {_canon_sql(_URL_SQL_DUCK, chr(92))} AS canonical_url
            FROM documents
        )
        SELECT canonical_url,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_dups
        FROM u GROUP BY canonical_url
    """,
    doc="URL-canonicalization dedup: normalize crawl URLs (strip scheme, "
    "www, query string, trailing slash; lowercase) and keep the lowest "
    "doc_id per canonical URL — the first dedup stage of every web-corpus "
    "pipeline (C4/CCNet shape). One shuffle on the canonical key with "
    "map-side partial min/count. The URL itself is synthesized "
    "deterministically from fixture columns (see module source).",
    tags=("dedup", "llm", "url"),
)
def dd7_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.expr(_canon_sql(_URL_SQL, chr(92) * 2)).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


# Per-stratum keep-rates: downsample the head classes, keep the tail —
# the class-rebalancing shape for training-data curation.
_STRATA_RATES = {"click": 10, "view": 10, "purchase": 50, "signup": 50, "error": 100}


@register(
    "a12_stratified_sample",
    oracle=f"""
        SELECT event_id, event_type, user_id
        FROM events
        WHERE {DUCK_HEX2INT.format(s="CAST(event_id AS VARCHAR)")} % 100 <
              CASE event_type
                   WHEN 'click' THEN 10 WHEN 'view' THEN 10
                   WHEN 'purchase' THEN 50 WHEN 'signup' THEN 50
                   ELSE 100 END
        ORDER BY event_id
    """,
    doc="Stratified deterministic sampling: per-class keep-rates (10% of "
    "head classes, 50-100% of tail classes) decided by key-hash bucket, "
    "not RNG — stable across runs/engines/partitionings and join-safe "
    "(the same event samples in or out everywhere). Pure filter: full "
    "pushdown, map-only, no shuffle.",
    tags=("sampling", "llm"),
)
def a12_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = F.expr(SPARK_HEX2INT.format(s="CAST(event_id AS STRING)")) % 100
    rate = F.when(F.col("event_type") == "click", 10)
    for etype, r in list(_STRATA_RATES.items())[1:]:
        rate = rate.when(F.col("event_type") == etype, r)
    rate = rate.otherwise(100)
    return (
        e.filter(bucket < rate)
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    )


@register(
    "a13_train_split",
    oracle=f"""
        WITH assigned AS (
            SELECT doc_id, lang,
                   {DUCK_HEX2INT.format(s="concat('split:', CAST(doc_id AS VARCHAR))")}
                       % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned
    """,
    doc="Train/val/test split assignment (80/10/10) by salted key-hash "
    "bucket: deterministic, reproducible, and leakage-safe — a document "
    "lands in the same split on every run and engine, and near-dup "
    "leakage checks can join on the same key. Map-only projection.",
    tags=("sampling", "llm", "split"),
)
def a13_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.expr(SPARK_HEX2INT.format(s="concat('split:', CAST(doc_id AS STRING))"))
        % 100
    )
    return d.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


DHASH_BITS = 32

# project the resample vector ONCE: lambda bodies are not common-
# subexpression-eliminated, so inlining it inside the per-bit comparison
# would rebuild the 33-element array ~64x per row (shared by mm5/mm6)
_DHASH_V_EXPR = (
    f"transform(sequence(0, {DHASH_BITS}), "
    f"k -> ascii(substr(text, "
    f"1 + cast(floor(k * length(text) / {DHASH_BITS + 1}) as int), 1)))"
)
_DHASH_EXPR = (
    f"aggregate(transform(sequence(0, {DHASH_BITS - 1}), "
    f"k -> IF(element_at(__v, k + 1) > element_at(__v, k + 2), "
    f"shiftleft(1L, k), 0L)), 0L, (acc, x) -> acc + x)"
)


@register(
    "mm5_dhash",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, length(text) AS src_len,
                   [ascii(substr(text,
                        1 + CAST(floor(k * length(text) / {DHASH_BITS + 1}) AS INT), 1))
                    for k in generate_series(0, {DHASH_BITS})] AS v
            FROM documents
            WHERE length(text) >= {DHASH_BITS + 1}
        )
        SELECT doc_id, src_len,
               CAST(COALESCE(list_sum([
                   CASE WHEN v[k + 1] > v[k + 2]
                        THEN CAST(1 AS BIGINT) << k ELSE 0 END
                   for k in generate_series(0, {DHASH_BITS - 1})]), 0)
                   AS BIGINT) AS dhash
        FROM r
    """,
    doc=f"Perceptual difference-hash (dHash) over the payload byte stream: "
    f"resample to {DHASH_BITS + 1} points (mm4's nearest-neighbor "
    f"resize), then bit k = sample[k] > sample[k+1], packed into a "
    f"{DHASH_BITS}-bit integer. Near-identical media differing by a few "
    "bytes land within small Hamming distance — the image near-dup "
    "fingerprint (a real image pipeline feeds pixel rows instead; the "
    "Spark shape is identical). Pure expression tree, no UDF, no shuffle.",
    tags=("multimodal", "llm", "dedup"),
)
def mm5_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.length("text") >= DHASH_BITS + 1)
        .select(
            "doc_id",
            F.length("text").alias("src_len"),
            F.expr(_DHASH_V_EXPR).alias("__v"),
        )
        .select("doc_id", "src_len", F.expr(_DHASH_EXPR).alias("dhash"))
    )


#: mm6 banding: the dhash splits into MM6_BANDS bit-segments; two hashes
#: within Hamming distance MM6_HAMMING_MAX must agree on at least one
#: segment whenever MM6_HAMMING_MAX < MM6_BANDS (pigeonhole), so the
#: banded self-join finds EXACTLY the Hamming-ball pair set — the oracle
#: can therefore state the simple all-pairs predicate while the plan
#: stays banded.
#: 4 bands x 8 bits (vs the earlier 8 x 4): the 256-value band keys keep
#: buckets ~16x smaller on low-entropy corpora, cutting in-bucket candidate
#: checks ~40x on this fixture — the multi-index shape production pHash
#: pipelines use (wide segments, small Hamming radius).
MM6_BANDS = 4
MM6_BAND_BITS = DHASH_BITS // MM6_BANDS
MM6_HAMMING_MAX = 3


@register(
    "mm6_image_neardup_clusters",
    oracle=f"""
        WITH RECURSIVE r AS (
            SELECT doc_id,
                   [ascii(substr(text,
                        1 + CAST(floor(k * length(text) / {DHASH_BITS + 1}) AS INT), 1))
                    for k in generate_series(0, {DHASH_BITS})] AS v
            FROM documents
            WHERE length(text) >= {DHASH_BITS + 1}
        ),
        h AS (
            SELECT doc_id,
                   CAST(COALESCE(list_sum([
                       CASE WHEN v[k + 1] > v[k + 2]
                            THEN CAST(1 AS BIGINT) << k ELSE 0 END
                       for k in generate_series(0, {DHASH_BITS - 1})]), 0)
                       AS BIGINT) AS dhash
            FROM r
        ),
        pairs AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.dhash, b.dhash)) <= {MM6_HAMMING_MAX}
        ),
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
        ),
        walk(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
        )
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM walk GROUP BY node
    """,
    doc=f"Image near-duplicate CLUSTERS over the perceptual hash: mm5's "
    f"dHash -> {MM6_BANDS} bit-band buckets ({MM6_BAND_BITS} bits each, "
    "the dd2 LSH pattern applied to Hamming space) -> in-bucket ordered "
    "pair generation -> exact verify bit_count(xor) <= "
    f"{MM6_HAMMING_MAX} -> connected components (dd6's min-label "
    "propagation, reused). Pigeonhole makes the banding LOSSLESS at "
    "this threshold, so the oracle states the plain all-pairs predicate "
    "while the Spark plan never goes all-pairs. A production image "
    "corpus runs the identical plan on a 64-bit pHash with 16-bit "
    "segments (multi-index pigeonhole, 65k-value buckets); hot buckets "
    "get dd2's salt/cap treatment.",
    tags=("multimodal", "llm", "dedup", "iterative"),
)
def mm6_image_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.operators.dedup import min_label_components

    d = load_table_parallel(spark, sf_dir, "documents")
    return min_label_components(spark, mm6_hamming_pairs(d))


def mm6_hamming_pairs(d: DataFrame) -> DataFrame:
    """Hamming-ball near-dup pairs over the dHash, via banded self-join —
    exposed separately so tests can assert the candidate plan is banded
    (one shuffle into buckets + in-bucket explode), never all-pairs.

    dd16's Manku-table factoring (VERDICT r5 ask #4): dedupe the HASH
    SPACE first. Documents sharing a dHash collapse into one group row;
    the banded candidate search then runs over DISTINCT hashes only, so
    in-bucket work is O(distinct-width²) + O(output) — on a near-dup-
    heavy corpus (k identical images) the old per-member explode did
    O(k²) lambda work per bucket; here those k members cost one group
    row and their pairs expand only at output time. Intra-group pairs
    (distance 0) explode directly from the group."""
    h = (
        d.filter(F.length("text") >= DHASH_BITS + 1)
        .select("doc_id", F.expr(_DHASH_V_EXPR).alias("__v"))
        .select("doc_id", F.expr(_DHASH_EXPR).alias("dhash"))
    )
    groups = (
        h.groupBy("dhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .persist()  # plan-cache
    )
    intra = (
        groups.filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, a -> "
                    "transform(filter(ids, b -> b > a), "
                    "b -> struct(a AS doc_id_a, b AS doc_id_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_id_a", "p.doc_id_b")
    )
    band_structs = ", ".join(
        f"struct({b} AS band_id, "
        f"shiftright(dhash, {MM6_BAND_BITS * b}) & {2 ** MM6_BAND_BITS - 1} "
        f"AS band_key)"
        for b in range(MM6_BANDS)
    )
    bands = groups.select(
        "dhash",
        "ids",
        F.explode(F.expr(f"array({band_structs})")).alias("b"),
    ).select("dhash", "ids", "b.band_id", "b.band_key")
    # One shuffle into Hamming-band buckets of DISTINCT hashes; verified
    # group pairs generate in-bucket by expression (verify INSIDE the
    # lambda — failed candidates cost one xor+bit_count and no
    # allocation), membership cross product expands LAST, ordered
    # (least, greatest) so each doc pair appears once per colliding
    # band; the distinct dedups multi-band collisions.
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.collect_list(F.struct("dhash", "ids")).alias("gs"))
        .filter(F.size("gs") > 1)
    )
    cross = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(gs, a -> flatten("
                    "transform(filter(gs, b -> b.dhash > a.dhash AND "
                    f"bit_count(a.dhash ^ b.dhash) <= {MM6_HAMMING_MAX}), "
                    "b -> flatten(transform(a.ids, x -> "
                    "transform(b.ids, y -> struct("
                    "least(x, y) AS doc_id_a, greatest(x, y) AS doc_id_b"
                    "))))))))"
                )
            ).alias("p")
        )
        .select("p.doc_id_a", "p.doc_id_b")
        .distinct()
    )
    return intra.unionByName(cross)


VOCAB_TOP_K = 100


@register(
    "tx10_vocab_topk",
    oracle=f"""
        WITH toks AS (
            SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
        )
        SELECT tok, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rank
        FROM toks GROUP BY tok
        ORDER BY cnt DESC, tok
        LIMIT {VOCAB_TOP_K}
    """,
    doc=f"Vocabulary induction: top-{VOCAB_TOP_K} corpus tokens by "
    "frequency with a total-order rank (count desc, token asc tiebreak "
    "— deterministic under any partitioning). The first step of "
    "tokenizer/BPE training and the lookup side of tx8's novelty "
    "scoring. One shuffle (token counts, map-side partials) + a top-K "
    "that runs as TakeOrdered — the full vocabulary never sorts "
    "globally.",
    tags=("text", "llm", "corpus", "vocab"),
)
def tx10_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)).alias(
            "tok"
        )
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    return top.select(
        "tok", "cnt", F.row_number().over(w).alias("rank")
    ).orderBy(F.desc("cnt"), F.asc("tok"))


def _keep_min(df: DataFrame, key: F.Column) -> DataFrame:
    """One dedup stage: keep the lowest doc_id per key value.

    Aggregate-then-semi-join (not a window) so the keeper set reduces
    map-side before its one shuffle, and AQE broadcasts it back against
    the survivor frame when small."""
    keepers = (
        df.select(key.alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return df.join(keepers, "doc_id")


#: Rolling 8-gram minimum (tx4's winnowing key) — the cheap near-dup
#: fingerprint shared by dd8 and pp1.
_FINGERPRINT_EXPR = (
    "array_min(transform(sequence(1, greatest(length(text) - 7, 1)), "
    f"i -> {SPARK_HEX2INT.format(s='substr(text, i, 8)')}))"
)



@register(
    "dd8_dedup_cascade",
    oracle=f"""
        WITH canon AS (
            SELECT doc_id, {_canon_sql(_URL_SQL_DUCK, chr(92))} AS cu
            FROM documents
        ),
        s1 AS (
            SELECT d.* FROM documents d
            JOIN (SELECT MIN(doc_id) AS keeper FROM canon GROUP BY cu) k
              ON d.doc_id = k.keeper
        ),
        s2 AS (
            SELECT s1.* FROM s1
            JOIN (SELECT MIN(doc_id) AS keeper FROM s1
                  GROUP BY md5(lower(trim(text)))) k
              ON s1.doc_id = k.keeper
        ),
        s3 AS (
            SELECT s2.* FROM s2
            JOIN (SELECT MIN(doc_id) AS keeper FROM s2
                  GROUP BY list_min([
                      {DUCK_HEX2INT.format(s="substr(text, i, 8)")}
                      for i in generate_series(1, greatest(length(text) - 7, 1))
                  ])) k
              ON s2.doc_id = k.keeper
        )
        SELECT stage, n_docs FROM (
            SELECT 1 AS ord, 'input' AS stage, COUNT(*) AS n_docs FROM documents
            UNION ALL
            SELECT 2, 'after_url_dedup', COUNT(*) FROM s1
            UNION ALL
            SELECT 3, 'after_exact_dedup', COUNT(*) FROM s2
            UNION ALL
            SELECT 4, 'after_fingerprint_dedup', COUNT(*) FROM s3
        ) ORDER BY ord
    """,
    doc="Composed dedup cascade — the funnel a real corpus pipeline runs: "
    "URL-canonical dedup (dd7) → exact content dedup (dd1) → rolling-"
    "min-shingle fingerprint dedup (tx4's winnowing key), each stage "
    "keeping the lowest doc_id and feeding the next, with per-stage "
    "survivor counts. Cheap-to-expensive ordering minimizes work: every "
    "stage is one shuffle over only the previous stage's survivors.",
    tags=("dedup", "llm", "cascade"),
)
def dd8_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")

    # Each stage feeds BOTH its count and the next stage — persist the
    # survivor frames so the funnel is computed once per stage, not
    # re-derived from the scan for every downstream consumer.
    s1 = _keep_min(d, F.expr(_canon_sql(_URL_SQL, chr(92) * 2))).persist()
    s2 = _keep_min(s1, F.md5(F.lower(F.trim(F.col("text"))))).persist()
    s3 = _keep_min(s2, F.expr(_FINGERPRINT_EXPR))
    # The funnel output is four scalars: count each stage eagerly (this
    # materializes the persisted frames exactly once), then release the
    # caches before returning — a lazy union of aggregates would keep
    # s1/s2 pinned in executor storage for the whole session.
    counts = [
        ("input", d.count()),
        ("after_url_dedup", s1.count()),
        ("after_exact_dedup", s2.count()),
        ("after_fingerprint_dedup", s3.count()),
    ]
    s1.unpersist()
    s2.unpersist()
    return spark.createDataFrame(counts, "stage string, n_docs long")


@register(
    "a14_data_quality_checks",
    oracle="""
        SELECT
            (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                AS n_null_custkey,
            (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
                AS n_nonpositive_price,
            (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
                ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
                AS n_orphan_orders,
            (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                AS n_dup_orderkeys,
            (SELECT COUNT(*) FROM orders
             WHERE o_orderdate < TIMESTAMP '1990-01-01'
                OR o_orderdate > TIMESTAMP '2005-01-01')
                AS n_out_of_range_dates
    """,
    doc="Data-contract validation (the Deequ/dbt-test shape): null keys, "
    "non-positive amounts, referential orphans (orders whose customer "
    "is missing — LEFT ANTI semantics), duplicate primary keys, and "
    "out-of-range dates, as one summary row. Each check is a partial-"
    "aggregated scan or one anti-join; at 100 TB the checks share the "
    "single fact scan and the dim side broadcasts. Run pre-ingest as "
    "the gate before data enters the lakehouse.",
    tags=("quality", "llm", "validation"),
)
def a14_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    base = o.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n_null_custkey"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "n_nonpositive_price"
        ),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n_dup_orderkeys"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") > F.lit("2005-01-01").cast("timestamp")),
                1,
            )
        ).alias("n_out_of_range_dates"),
    )
    orphans = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("n_orphan_orders"))
    )
    return base.crossJoin(orphans).select(
        "n_null_custkey",
        "n_nonpositive_price",
        "n_orphan_orders",
        "n_dup_orderkeys",
        "n_out_of_range_dates",
    )


@register(
    "a15_approx_percentile",
    oracle="""
        SELECT CAST(quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT),
                                  0.5) AS DOUBLE) AS exact_p50,
               CAST(quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT),
                                  0.95) AS DOUBLE) AS exact_p95,
               TRUE AS p50_within_1pct,
               TRUE AS p95_within_1pct
        FROM orders
    """,
    doc="Approximate percentiles (the mergeable-sketch path a9's exact "
    "percentiles trade against at 100 TB): percentile_approx at "
    "accuracy 10000 over integer cents, checked as a bounds oracle — "
    "the exact quantiles computed on both engines plus booleans "
    "asserting the sketch landed within 1%. Sketches combine map-side; "
    "one tiny shuffle regardless of data volume.",
    tags=("aggregate", "approx", "percentile"),
)
def a15_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    agg = o.agg(
        F.percentile(cents, 0.5).alias("exact_p50"),
        F.percentile(cents, 0.95).alias("exact_p95"),
        F.percentile_approx(cents, 0.5, 10000).alias("ap50"),
        F.percentile_approx(cents, 0.95, 10000).alias("ap95"),
    )
    return agg.select(
        "exact_p50",
        "exact_p95",
        (F.abs(F.col("ap50") - F.col("exact_p50"))
         <= 0.01 * F.abs(F.col("exact_p50"))).alias("p50_within_1pct"),
        (F.abs(F.col("ap95") - F.col("exact_p95"))
         <= 0.01 * F.abs(F.col("exact_p95"))).alias("p95_within_1pct"),
    )


@register(
    "a17_approx_distinct",
    oracle="""
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS exact_orderkeys,
               TRUE AS custkeys_within_5pct,
               TRUE AS orderkeys_within_5pct
    FROM orders
    """,
    doc="Approximate distinct counting — the mergeable-sketch (HLL++) "
    "path a5's exact COUNT DISTINCT trades against at 100 TB: "
    "approx_count_distinct at rsd 0.01, checked as a bounds oracle (the "
    "exact NDVs computed on both engines plus booleans asserting each "
    "sketch landed within 5%). Sketch registers combine by max, so the "
    "aggregation is map-side partial, order-insensitive (deterministic "
    "under any partitioning), and one tiny shuffle regardless of data "
    "volume — where exact distinct shuffles every distinct value.",
    tags=("aggregate", "approx", "sketch"),
)
def a17_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
        F.countDistinct("o_orderkey").alias("exact_orderkeys"),
        F.approx_count_distinct("o_custkey", 0.01).alias("ac"),
        F.approx_count_distinct("o_orderkey", 0.01).alias("ao"),
    )
    return agg.select(
        "exact_custkeys",
        "exact_orderkeys",
        within_5pct("ac", "exact_custkeys").alias("custkeys_within_5pct"),
        within_5pct("ao", "exact_orderkeys").alias("orderkeys_within_5pct"),
    )


@register(
    "a16_column_stats",
    oracle="""
        SELECT 'c_custkey' AS column_name, COUNT(*) AS n_rows,
               COUNT(DISTINCT c_custkey) AS n_distinct,
               COUNT(*) - COUNT(c_custkey) AS n_null,
               CAST(MIN(c_custkey) AS VARCHAR) AS min_value,
               CAST(MAX(c_custkey) AS VARCHAR) AS max_value
        FROM customer
        UNION ALL
        SELECT 'c_nationkey', COUNT(*), COUNT(DISTINCT c_nationkey),
               COUNT(*) - COUNT(c_nationkey),
               CAST(MIN(c_nationkey) AS VARCHAR),
               CAST(MAX(c_nationkey) AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT 'c_acctbal_cents', COUNT(*),
               COUNT(DISTINCT CAST(ROUND(c_acctbal * 100) AS BIGINT)),
               COUNT(*) - COUNT(c_acctbal),
               CAST(MIN(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS VARCHAR),
               CAST(MAX(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS VARCHAR)
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment', COUNT(*), COUNT(DISTINCT c_mktsegment),
               COUNT(*) - COUNT(c_mktsegment),
               MIN(c_mktsegment), MAX(c_mktsegment)
        FROM customer
        ORDER BY column_name
    """,
    doc="Column statistics (ANALYZE TABLE / Iceberg per-column metrics): "
    "row count, NDV, null count, min/max per tracked column, computed in "
    "ONE scan (a single multi-aggregate projection unpivoted to rows — "
    "not one scan per column like the naive UNION the oracle states). "
    "Doubles are surfaced as integer cents so min/max stringification is "
    "engine-identical. These are the stats a cost-based planner and "
    "manifest pruning both feed on.",
    tags=("aggregate", "stats", "catalog"),
)
def a16_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cents = F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")
    one = c.agg(
        F.count("*").alias("n"),
        F.countDistinct("c_custkey").alias("ndv_ck"),
        (F.count("*") - F.count("c_custkey")).alias("null_ck"),
        F.min("c_custkey").cast("string").alias("min_ck"),
        F.max("c_custkey").cast("string").alias("max_ck"),
        F.countDistinct("c_nationkey").alias("ndv_nk"),
        (F.count("*") - F.count("c_nationkey")).alias("null_nk"),
        F.min("c_nationkey").cast("string").alias("min_nk"),
        F.max("c_nationkey").cast("string").alias("max_nk"),
        F.countDistinct(cents).alias("ndv_ab"),
        (F.count("*") - F.count("c_acctbal")).alias("null_ab"),
        F.min(cents).cast("string").alias("min_ab"),
        F.max(cents).cast("string").alias("max_ab"),
        F.countDistinct("c_mktsegment").alias("ndv_ms"),
        (F.count("*") - F.count("c_mktsegment")).alias("null_ms"),
        F.min("c_mktsegment").alias("min_ms"),
        F.max("c_mktsegment").alias("max_ms"),
    )
    stacked = one.select(
        F.expr(
            "stack(4, "
            "'c_custkey', n, ndv_ck, null_ck, min_ck, max_ck, "
            "'c_nationkey', n, ndv_nk, null_nk, min_nk, max_nk, "
            "'c_acctbal_cents', n, ndv_ab, null_ab, min_ab, max_ab, "
            "'c_mktsegment', n, ndv_ms, null_ms, min_ms, max_ms) "
            "AS (column_name, n_rows, n_distinct, n_null, min_value, max_value)"
        )
    )
    return stacked.orderBy("column_name")


# ---------------------------------------------------------------------------
# pp1: the end-to-end curation funnel (VERDICT r2 item 7)
# ---------------------------------------------------------------------------

#: Keep-rate for the head language; tail languages are kept whole.
PP_HEAD_LANG_RATE = 40


#: Gram width for the in-funnel decontamination stage. Production corpora
#: use 13 (dc1's doc); the fixture's curated corpus is tiny post-dedup, so
#: 3 keeps the stage non-trivial (it actually drops documents) at test SF.
PP3_DECONTAM_N = 3

#: The fingerprint third stage of the funnel (pp1/pp3); pp6 swaps in the
#: MinHash-LSH fuzzy stage via the same `s3` contract.
_FUNNEL_S3_FP_DUCK = f"""s3 AS (
            SELECT s2.* FROM s2
            JOIN (SELECT MIN(doc_id) AS keeper FROM s2
                  GROUP BY list_min([
                      {DUCK_HEX2INT.format(s="substr(text, i, 8)")}
                      for i in generate_series(1, greatest(length(text) - 7, 1))
                  ])) k
              ON s2.doc_id = k.keeper
        )"""


def _funnel_ctes(stage3: str) -> str:
    """DuckDB CTE chain for the shared curation funnel: quality gates →
    URL dedup → exact dedup → ``stage3`` (any SQL defining CTE ``s3``
    over ``s2``) → stratified sampling → split assignment; terminal CTE
    is ``final`` (doc_id, lang, source, text, split). One definition,
    consumed by pp1/pp3/pp6 so the three oracles cannot drift — the
    exact mirror of ``_pp1_curated_frame`` on the Spark side."""
    hx = DUCK_HEX2INT.format
    return f"""q AS (
            SELECT * FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
              AND length(text) BETWEEN 50 AND 10000
        ),
        canon AS (
            SELECT doc_id, {_canon_sql(_URL_SQL_DUCK, chr(92))} AS cu FROM q
        ),
        s1 AS (
            SELECT q.* FROM q
            JOIN (SELECT MIN(doc_id) AS keeper FROM canon GROUP BY cu) k
              ON q.doc_id = k.keeper
        ),
        s2 AS (
            SELECT s1.* FROM s1
            JOIN (SELECT MIN(doc_id) AS keeper FROM s1
                  GROUP BY md5(lower(trim(text)))) k
              ON s1.doc_id = k.keeper
        ),
        {stage3},
        samp AS (
            SELECT * FROM s3
            WHERE {hx(s="concat('sample:', CAST(doc_id AS VARCHAR))")} % 100
                  < CASE WHEN lang = 'en' THEN {PP_HEAD_LANG_RATE}
                         ELSE 100 END
        ),
        final AS (
            SELECT doc_id, lang, source, text,
                   CASE WHEN {hx(s="concat('split:', CAST(doc_id AS VARCHAR))")}
                             % 100 < 80 THEN 'train'
                        WHEN {hx(s="concat('split:', CAST(doc_id AS VARCHAR))")}
                             % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM samp
        )"""


#: Decontamination CTEs over the funnel's `final` CTE (pp3/pp6/pp10):
#: drop train docs sharing any PP3_DECONTAM_N-gram with the test split;
#: terminal CTE is ``clean`` (the decontaminated funnel survivors, text
#: retained so pp10 can keep packing).
_DECONTAM_CTES_DUCK = f""",
        gtoks AS (
            SELECT doc_id, split,
                   string_split_regex(lower(trim(text)), '{_TOKEN_SPLIT}') AS t
            FROM final
        ),
        ggrams AS (
            SELECT doc_id, split,
                   unnest([array_to_string(t[i:i+{PP3_DECONTAM_N - 1}], ' ')
                           for i in generate_series(
                               1, greatest(len(t) - {PP3_DECONTAM_N - 1}, 0))]) AS g
            FROM gtoks
        ),
        contam AS (
            SELECT DISTINCT a.doc_id
            FROM ggrams a JOIN ggrams b USING (g)
            WHERE a.split = 'train' AND b.split = 'test'
        ),
        clean AS (
            SELECT f.* FROM final f
            WHERE NOT (f.split = 'train'
                       AND f.doc_id IN (SELECT doc_id FROM contam))
        )"""

#: pp3/pp6's audit projection over the decontaminated survivors.
_DECONTAM_TAIL_DUCK = f"""{_DECONTAM_CTES_DUCK}
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars, split
        FROM clean"""


@register(
    "pp1_corpus_curation",
    oracle=f"""
        WITH {_funnel_ctes(_FUNNEL_S3_FP_DUCK)}
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars, split
        FROM final
    """,
    doc="Flagship end-to-end curation funnel — the reference's full "
    "pipeline story (bot_iceberg_loader.py:371-477: source -> tables -> "
    "queries -> export) recast at LLM-corpus scale: ingest -> data-"
    "contract quality gates (a14's shape on documents: null/length "
    "bounds, pushed to the scan) -> three-stage dedup cascade (dd8: URL "
    "canonical, exact content, winnowing fingerprint) -> per-language "
    "stratified downsampling (a12's deterministic key-hash, head "
    "language 40%) -> leakage-safe train/val/test split (a13's salted "
    "hash) -> single-file parquet export (s10), read back and returned. "
    "The whole funnel is ONE lazy linear plan materialized exactly once "
    "by the export writer: gates are scan-pushed filters, each dedup "
    "stage is one shuffle over only the prior stage's survivors "
    "(cheap-to-expensive ordering), sampling and splitting are map-only "
    "expressions, and at 100 TB only the single-writer export step is "
    "swapped for a partitioned df.write (io/export.py's documented "
    "scale path).",
    tags=("pipeline", "llm", "flagship"),
)
def pp1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.io.export import export_parquet

    final = _pp1_curated_frame(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        "split",
    )
    # Stage 5 — export: the funnel's single materialization, read back.
    path = os.path.join(_export_tmpdir("curation_"), "corpus.parquet")
    export_parquet(final, path)
    return spark.read.parquet(path)


def _pp1_curated_frame(
    spark: SparkSession,
    sf_dir: str,
    fuzzy: bool = False,
    image_dedup: bool = False,
) -> DataFrame:
    """The shared curation funnel (lazy; text retained): quality gates →
    URL dedup → exact dedup → third dedup stage → stratified sampling →
    split assignment. ``fuzzy=False`` runs the winnowing-fingerprint
    third stage (pp1/pp3); ``fuzzy=True`` swaps in the verified
    MinHash-LSH near-dup removal (pp6). ``image_dedup=True`` adds pp9's
    perceptual-hash near-dup drop (banded Hamming candidates, keep-
    lowest) over the third stage's survivors (pp10). One definition so
    the funnels can never desynchronize (test_pp3_* asserts row parity);
    the DuckDB mirror is ``_funnel_ctes``.
    """
    d = load_table_parallel(spark, sf_dir, "documents")
    # Stage 1 — quality gates: contract filters reach the parquet scan.
    q = d.filter(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.length("text").between(50, 10000)
    )
    # Stage 2 — dedup cascade. Purely linear (unlike dd8, no per-stage
    # counts are emitted), so no persists: one plan, three shuffles.
    s1 = _keep_min(q, F.expr(_canon_sql(_URL_SQL, chr(92) * 2)))
    s2 = _keep_min(s1, F.md5(F.lower(F.trim(F.col("text")))))
    if fuzzy:
        from apache_iceberg_spark.operators.dedup import minhash_lsh_pairs

        dupes = (
            minhash_lsh_pairs(s2)
            .select(F.col("doc_id_b").alias("doc_id"))
            .distinct()
        )
        s3 = s2.join(dupes, "doc_id", "left_anti")
    else:
        s3 = _keep_min(s2, F.expr(_FINGERPRINT_EXPR))
    if image_dedup:
        img_dupes = (
            mm6_hamming_pairs(s3)
            .select(F.col("doc_id_b").alias("doc_id"))
            .distinct()
        )
        s3 = s3.join(img_dupes, "doc_id", "left_anti")
    # Stage 3 — per-language stratified sampling (deterministic key-hash;
    # 'sample:' salt keeps it independent of the split assignment below).
    sample_bucket = (
        F.expr(SPARK_HEX2INT.format(s="concat('sample:', CAST(doc_id AS STRING))"))
        % 100
    )
    samp = s3.filter(
        sample_bucket
        < F.when(F.col("lang") == "en", PP_HEAD_LANG_RATE).otherwise(100)
    )
    # Stage 4 — split assignment (a13's exact bucketing: leakage-safe,
    # same document lands in the same split everywhere).
    split_bucket = (
        F.expr(SPARK_HEX2INT.format(s="concat('split:', CAST(doc_id AS STRING))"))
        % 100
    )
    return samp.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.when(split_bucket < 80, "train")
        .when(split_bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def _export_tmpdir(prefix: str) -> str:
    """Temp dir for funnel export checkpoints, reclaimed at process exit
    (the read-back DataFrame stays lazy over these files for the rest of
    the session, so earlier cleanup would break it)."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# ---------------------------------------------------------------------------
# dc1: benchmark decontamination; pp2: sequence packing (round 3)
# ---------------------------------------------------------------------------

#: Token n-gram width for contamination detection (13 is the GPT-3 paper
#: convention; the synthetic fixture's short docs need 5 to be non-trivial).
DECONTAM_N = 5

#: Bloom pre-pass sizing: 2^18 bits packed into 64-bit words, 3 probes per
#: key. The filter is CONSTANT-size by construction (32 KiB) — saturation at
#: extreme key cardinality degrades gracefully to pass-everything (the join
#: still verifies), never to failure; size m to the test-side cardinality at
#: deploy (1.44 * n * log2(1/fpp) bits).
BLOOM_WORDS = 4096
BLOOM_BITS = BLOOM_WORDS * 64
BLOOM_K = 3


def bloom_prefilter(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Drop rows of ``big`` whose ``key`` cannot possibly join ``small``.

    A Spark-first distributed bloom filter (Catalyst's automatic
    InjectRuntimeFilter cannot build one here: its creation-side pattern
    only descends Project/Filter, and n-gram sides contain a Generate):

    1. build — each ``small`` key sets ``BLOOM_K`` bits; bit positions
       become (word, mask) pairs that ``bit_or``-aggregate into at most
       ``BLOOM_WORDS`` rows (map-side combined), then fold into ONE row
       holding a word->bits map;
    2. probe — that single constant-size row broadcasts (32 KiB whatever
       the corpus size — the opposite of broadcasting ``small`` itself),
       and ``big`` keeps only rows whose probe bits are all set, as a
       map-only expression filter ahead of any shuffle.

    False positives survive to the real join (which verifies); false
    negatives cannot occur. Everything is JVM expressions — no UDF.
    """

    def pos(seed: int) -> str:
        return f"pmod(xxhash64({key}, {seed}), {BLOOM_BITS})"

    entries = ", ".join(
        f"struct(CAST({pos(s)} DIV 64 AS INT) AS w, "
        f"shiftleft(1L, CAST({pos(s)} % 64 AS INT)) AS m)"
        for s in range(BLOOM_K)
    )
    bloom = (
        small.select(F.explode(F.expr(f"array({entries})")).alias("e"))
        .groupBy(F.col("e.w").alias("w"))
        .agg(F.bit_or(F.col("e.m")).alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias("__bloom")
        )
    )
    hit = " AND ".join(
        f"(shiftright(element_at(__bloom, CAST({pos(s)} DIV 64 AS INT)), "
        f"CAST({pos(s)} % 64 AS INT)) & 1L) = 1L"
        for s in range(BLOOM_K)
    )
    return (
        big.join(F.broadcast(bloom))  # one constant-size row
        .filter(F.expr(hit))
        .drop("__bloom")
    )

_SPLIT_BUCKET_DUCK = (
    DUCK_HEX2INT.format(s="concat('split:', CAST(doc_id AS VARCHAR))") + " % 100"
)


@register(
    "dc1_decontamination",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, text,
                   CASE WHEN {_SPLIT_BUCKET_DUCK} < 80 THEN 'train'
                        WHEN {_SPLIT_BUCKET_DUCK} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ),
        toks AS (
            SELECT doc_id, split, {_DUCK_TOKS.replace("text", "s.text")} AS t
            FROM s
        ),
        grams AS (
            SELECT doc_id, split,
                   unnest([array_to_string(t[i:i+{DECONTAM_N - 1}], ' ')
                           for i in generate_series(
                               1, greatest(len(t) - {DECONTAM_N - 1}, 0))]) AS g
            FROM toks
        )
        SELECT a.doc_id,
               COUNT(*) AS n_hits,
               COUNT(DISTINCT a.g) AS n_grams,
               COUNT(DISTINCT b.doc_id) AS n_test_docs
        FROM grams a JOIN grams b USING (g)
        WHERE a.split = 'train' AND b.split = 'test'
        GROUP BY a.doc_id
    """,
    doc=f"Benchmark decontamination (the GPT-3/PaLM train-set hygiene "
    f"step): flag training documents sharing any {DECONTAM_N}-token "
    "n-gram with the held-out test split (a13's deterministic "
    "assignment), reporting hit counts and the test documents touched. "
    "Spark shape: token n-grams via transform/slice expression trees "
    "(no Python); a constant-size bloom filter built from the test-side "
    "gram keys (bloom_prefilter: bit_or-aggregated words, one 32 KiB "
    "broadcast row) drops non-contaminating train grams map-side BEFORE "
    "any shuffle, and the surviving-gram join carries NO hint — the "
    "test side's size is unknowable statically (an external benchmark "
    "suite is MBs; a split derived from the corpus itself, as here, "
    "grows with it), so the strategy is AQE's call at runtime. The "
    "round-3 form force-broadcast the split-derived test grams — 10 % "
    "of the corpus into every executor, an OOM at 100 TB; the bloom "
    "row's size is fixed by construction instead. One shuffle for the "
    "final per-doc aggregate. Plan locked by "
    "tests/test_plans.py::test_dc1_*.",
    tags=("dedup", "llm", "decontamination"),
)
def dc1_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    split_bucket = (
        F.expr(SPARK_HEX2INT.format(s="concat('split:', CAST(doc_id AS STRING))"))
        % 100
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    base = d.select(
        "doc_id",
        F.when(split_bucket < 80, "train")
        .when(split_bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        toks.alias("t"),
    ).filter(F.size("t") >= DECONTAM_N)
    grams = base.select(
        "doc_id",
        "split",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {DECONTAM_N - 1}), "
                f"i -> concat_ws(' ', slice(t, i, {DECONTAM_N})))"
            )
        ).alias("g"),
    )
    train = grams.filter(F.col("split") == "train").select("doc_id", "g")
    test = (
        grams.filter(F.col("split") == "test")
        .select(F.col("doc_id").alias("test_doc_id"), "g")
    )
    return (
        bloom_prefilter(train, test.select("g"), "g")
        .join(test, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("g").alias("n_grams"),
            F.countDistinct("test_doc_id").alias("n_test_docs"),
        )
    )


@register(
    "pp7_contamination_report",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, text,
                   CASE WHEN {_SPLIT_BUCKET_DUCK} < 80 THEN 'train'
                        WHEN {_SPLIT_BUCKET_DUCK} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ),
        toks AS (
            SELECT doc_id, split, {_DUCK_TOKS.replace("text", "s.text")} AS t
            FROM s
        ),
        grams AS (
            SELECT doc_id, split,
                   unnest([array_to_string(t[i:i+{DECONTAM_N - 1}], ' ')
                           for i in generate_series(
                               1, greatest(len(t) - {DECONTAM_N - 1}, 0))]) AS g
            FROM toks
        ),
        test_totals AS (
            SELECT doc_id AS test_doc_id,
                   COUNT(DISTINCT g) AS n_test_grams
            FROM grams WHERE split = 'test' GROUP BY doc_id
        ),
        hits AS (
            SELECT b.doc_id AS test_doc_id,
                   COUNT(*) AS n_hits,
                   COUNT(DISTINCT a.doc_id) AS n_train_docs,
                   COUNT(DISTINCT b.g) AS n_shared_grams
            FROM grams a JOIN grams b USING (g)
            WHERE a.split = 'train' AND b.split = 'test'
            GROUP BY b.doc_id
        )
        SELECT t.test_doc_id,
               COALESCE(h.n_train_docs, 0) AS n_train_docs,
               COALESCE(h.n_hits, 0) AS n_hits,
               COALESCE(h.n_shared_grams, 0) AS n_shared_grams,
               t.n_test_grams,
               CAST(COALESCE(h.n_shared_grams, 0) AS DOUBLE)
                   / CAST(t.n_test_grams AS DOUBLE) AS contamination_frac
        FROM test_totals t LEFT JOIN hits h USING (test_doc_id)
    """,
    doc=f"Contamination REPORT — dc1 flipped to the benchmark's "
    f"perspective: for every held-out test document, how many training "
    f"documents share a {DECONTAM_N}-token n-gram with it, the raw hit "
    "count, and the fraction of its distinct grams that leak "
    "(n_shared/n_test_grams, including zero-leak docs via left join) — "
    "the audit table an eval team reads before trusting a benchmark "
    "score. Same scale shape as dc1: the train side (the 100 TB side) "
    "is bloom-prefiltered by a constant-size broadcast row before its "
    "only shuffle; the tiny per-test-doc gram totals aggregate "
    "separately and left-join back. No forced broadcast anywhere — "
    "strategy is AQE's call.",
    tags=("dedup", "llm", "decontamination", "report"),
)
def pp7_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    split_bucket = (
        F.expr(SPARK_HEX2INT.format(s="concat('split:', CAST(doc_id AS STRING))"))
        % 100
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    base = d.select(
        "doc_id",
        F.when(split_bucket < 80, "train")
        .when(split_bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        toks.alias("t"),
    ).filter(F.size("t") >= DECONTAM_N)
    grams = base.select(
        "doc_id",
        "split",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {DECONTAM_N - 1}), "
                f"i -> concat_ws(' ', slice(t, i, {DECONTAM_N})))"
            )
        ).alias("g"),
    )
    train = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "g"
    )
    test = grams.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "g"
    )
    test_totals = test.groupBy("test_doc_id").agg(
        F.countDistinct("g").alias("n_test_grams")
    )
    hits = (
        bloom_prefilter(train, test.select("g"), "g")
        .join(test, "g")
        .groupBy("test_doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("train_doc_id").alias("n_train_docs"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    )
    return test_totals.join(hits, "test_doc_id", "left").select(
        "test_doc_id",
        F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
        "n_test_grams",
        (
            F.coalesce("n_shared_grams", F.lit(0)).cast("double")
            / F.col("n_test_grams").cast("double")
        ).alias("contamination_frac"),
    )


def _pp4_oracle() -> str:
    from apache_iceberg_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_lsh_ctes,
    )

    return f"""
        WITH canon AS (
            SELECT doc_id, {_canon_sql(_URL_SQL_DUCK, chr(92))} AS cu
            FROM documents
        ),
        s1 AS (
            SELECT d.* FROM documents d
            JOIN (SELECT MIN(doc_id) AS keeper FROM canon GROUP BY cu) k
              ON d.doc_id = k.keeper
        ),
        s2 AS (
            SELECT s1.* FROM s1
            JOIN (SELECT MIN(doc_id) AS keeper FROM s1
                  GROUP BY md5(lower(trim(text)))) k
              ON s1.doc_id = k.keeper
        ),
        {minhash_lsh_ctes("s2")}
        SELECT s2.doc_id, s2.lang,
               CAST(length(s2.text) AS BIGINT) AS n_chars
        FROM s2
        WHERE s2.doc_id NOT IN (
            SELECT doc_id_b FROM verified
            WHERE jaccard >= {JACCARD_THRESHOLD}
        )
    """


@register(
    "pp4_cascade_fuzzy",
    oracle=_pp4_oracle(),
    doc="The dedup cascade with a TRUE fuzzy final stage — the "
    "C4/RefinedWeb funnel shape: URL-canonical dedup, exact-content "
    "dedup, then dd2's MinHash-LSH machinery (minhash_lsh_pairs: banded "
    "signatures, in-bucket pair generation, exact-Jaccard verify) over "
    "the survivors, dropping any document with a verified near-duplicate "
    "of lower doc_id (deterministic keep-lowest; full duplicate CLUSTERS "
    "are dd6's connected components). dd8/pp1's winnowing-fingerprint "
    "stage is the cheap exact-on-fingerprint PROXY for this; pp4 runs "
    "the real thing. At 100 TB, compose both: fingerprint first as a "
    "prefilter, LSH on its survivors — each stage shuffles only what "
    "the prior stage kept, and the LSH pair space is O(candidates) via "
    "bucketing, never all-pairs.",
    tags=("pipeline", "llm", "dedup", "cascade"),
)
def pp4_cascade_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.operators.dedup import minhash_lsh_pairs

    d = load_table_parallel(spark, sf_dir, "documents")
    s1 = _keep_min(d, F.expr(_canon_sql(_URL_SQL, chr(92) * 2)))
    s2 = _keep_min(s1, F.md5(F.lower(F.trim(F.col("text")))))
    pairs = minhash_lsh_pairs(s2)
    dupes = pairs.select(F.col("doc_id_b").alias("doc_id")).distinct()
    return s2.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


@register(
    "pp3_curation_decontaminated",
    oracle=f"WITH {_funnel_ctes(_FUNNEL_S3_FP_DUCK)}{_DECONTAM_TAIL_DUCK}",
    doc="pp1's flagship funnel extended with the train-set hygiene stage "
    "it was missing: quality gates -> three-stage dedup cascade -> "
    "stratified sampling -> split assignment -> DECONTAMINATION — train "
    f"documents sharing any {PP3_DECONTAM_N}-token n-gram with the "
    "held-out test split are dropped (dc1's mechanism composed in; "
    "val/test rows pass through). The curated frame is materialized "
    "exactly once, as a PARALLEL parquet checkpoint (the corpus artifact "
    "a real pipeline persists anyway; pp1 demonstrates the reference's "
    "single-file export shape); the decontamination pass then reads it "
    "back three ways — test grams, train grams, final projection — "
    "against the materialized parquet, never re-running the funnel. "
    "Train grams are bloom-prefiltered (constant-size broadcast) before "
    "the semi-join on test grams; the contaminated-id set is tiny by "
    "construction and anti-joins back under AQE. No hints, no Python.",
    tags=("pipeline", "llm", "flagship", "decontamination"),
)
def pp3_curation_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    curated = _pp1_curated_frame(spark, sf_dir)
    # One materialization for the whole funnel; the decontamination
    # consumers re-scan parquet, not the plan. Unlike pp1 (which keeps
    # the reference's single-file COPY-TO export shape), the checkpoint
    # here is a plain parallel write — every task streams its own part
    # file, the form that holds at 100 TB.
    path = os.path.join(_export_tmpdir("curation_"), "curated")
    curated.write.parquet(path)
    return _decontaminate_curated(spark.read.parquet(path))


def _pp6_oracle() -> str:
    from apache_iceberg_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_lsh_ctes,
    )

    fuzzy_s3 = f"""{minhash_lsh_ctes("s2")},
        s3 AS (
            SELECT s2.* FROM s2
            WHERE s2.doc_id NOT IN (
                SELECT doc_id_b FROM verified
                WHERE jaccard >= {JACCARD_THRESHOLD})
        )"""
    return f"WITH {_funnel_ctes(fuzzy_s3)}{_DECONTAM_TAIL_DUCK}"


@register(
    "pp6_production_funnel",
    oracle=_pp6_oracle(),
    doc="The capstone composition — every stage a production pretraining "
    "corpus pipeline runs, in one job: data-contract quality gates "
    "(scan-pushed) -> URL-canonical dedup -> exact-content dedup -> "
    "TRUE fuzzy near-dup removal (dd2's MinHash-LSH bucketing + "
    "exact-Jaccard verify, pp4's keep-lowest rule) -> per-language "
    "stratified downsampling -> leakage-safe split assignment -> "
    "export checkpoint -> benchmark decontamination over the "
    "materialized corpus (pp3's gram semi-join behind the "
    "constant-size bloom pre-pass). Each dedup stage shuffles only the "
    "prior stage's survivors, cheap-to-expensive; the LSH pair space "
    "is O(candidates); the funnel materializes exactly once at the "
    "checkpoint; decontamination re-scans parquet, never re-runs the "
    "funnel. Differs from pp3 only by the fuzzy stage replacing the "
    "fingerprint proxy — at 100 TB run BOTH (fingerprint as the cheap "
    "prefilter, LSH on its survivors).",
    tags=("pipeline", "llm", "flagship", "dedup", "decontamination"),
)
def pp6_production_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    curated = _pp1_curated_frame(spark, sf_dir, fuzzy=True)
    # Parallel checkpoint write (see pp3 — pp1 keeps the single-file
    # parity shape; the production funnel uses the scalable one).
    path = os.path.join(_export_tmpdir("funnel_"), "curated")
    curated.write.parquet(path)
    return _decontaminate_curated(spark.read.parquet(path))


def _decontaminate_curated(cur: DataFrame) -> DataFrame:
    """Shared final stage of pp3/pp6: drop train documents sharing any
    PP3_DECONTAM_N-gram with the test split of an already-materialized
    curated frame (doc_id, lang, source, text, split), returning the
    audit projection."""
    return _decontaminated_frame(cur).select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        "split",
    )


def _decontaminated_frame(cur: DataFrame) -> DataFrame:
    """The decontaminated survivors of a materialized curated frame,
    TEXT RETAINED (pp10 keeps packing them): anti-join of the
    contaminated-train-doc set, whose train-gram side goes through the
    constant-size bloom pre-pass before the semi-join on test grams.
    DuckDB mirror: the ``clean`` CTE of _DECONTAM_CTES_DUCK."""
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    base = cur.select("doc_id", "split", toks.alias("t")).filter(
        F.size("t") >= PP3_DECONTAM_N
    )
    grams = base.select(
        "doc_id",
        "split",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {PP3_DECONTAM_N - 1}), "
                f"i -> concat_ws(' ', slice(t, i, {PP3_DECONTAM_N})))"
            )
        ).alias("g"),
    )
    test_g = grams.filter(F.col("split") == "test").select("g").distinct()
    train_g = grams.filter(F.col("split") == "train").select("doc_id", "g")
    contam = (
        bloom_prefilter(train_g, test_g, "g")
        .join(test_g, "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return cur.join(contam, "doc_id", "left_anti")


#: pp5: fraction of the corpus token count used as the mixture budget
#: (numerator/denominator kept integer for exact cross-engine parity).
MIX_BUDGET_NUM, MIX_BUDGET_DEN = 1, 2


@register(
    "pp5_domain_mixture",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks,
                   {DUCK_HEX2INT.format(
                       s="concat('mix:', CAST(doc_id AS VARCHAR))")} % 1000
                       AS bucket
            FROM documents
        ),
        per_source AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS n_tokens
            FROM t GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   COUNT(*) AS n_sources
            FROM per_source
        ),
        rates AS (
            SELECT source, n_docs, n_tokens,
                   LEAST(1000, (1000 * ((total_tokens * {MIX_BUDGET_NUM})
                                        // ({MIX_BUDGET_DEN} * n_sources)))
                               // n_tokens) AS keep_permille
            FROM per_source CROSS JOIN tot
        ),
        kept AS (
            SELECT t.source, COUNT(*) AS n_docs_kept,
                   CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens_kept
            FROM t JOIN rates r ON t.source = r.source
            WHERE t.bucket < r.keep_permille
            GROUP BY t.source
        )
        SELECT r.source, r.n_docs, r.n_tokens, r.keep_permille,
               COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
               COALESCE(k.n_tokens_kept, 0) AS n_tokens_kept
        FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
    doc="Domain-mixture sampling — the data-mixing step of pretraining "
    "(static DoReMi shape): measure each source's token mass, derive a "
    "per-source keep rate that rebalances toward UNIFORM token shares "
    f"under a {MIX_BUDGET_NUM}/{MIX_BUDGET_DEN}-of-corpus budget "
    "(heavy domains downsample toward the uniform share, light domains "
    "pass whole), then keep documents by deterministic per-mille key "
    "hash. All rate arithmetic is integer division — bitwise identical "
    "across engines. Two passes over the corpus, the canonical mixing "
    "plan at 100 TB: a map-side-partial stats aggregation, then an "
    "apply pass with the ~#domains-row rate table broadcast; the "
    "output here is the per-source audit (in/kept docs and tokens), "
    "which is what a mixing job logs.",
    tags=("pipeline", "llm", "sampling", "mixture"),
)
def pp5_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    bucket = (
        F.expr(SPARK_HEX2INT.format(s="concat('mix:', CAST(doc_id AS STRING))"))
        % 1000
    )
    t = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_toks"),
        bucket.alias("bucket"),
    )
    per_source = t.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    rates = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            f"LEAST(1000L, (1000 * ((total_tokens * {MIX_BUDGET_NUM}) "
            f"DIV ({MIX_BUDGET_DEN} * n_sources))) DIV n_tokens)"
        ).alias("keep_permille"),
    )
    kept = (
        t.join(F.broadcast(rates.select("source", "keep_permille")), "source")
        .filter(F.col("bucket") < F.col("keep_permille"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_toks").alias("n_tokens_kept"),
        )
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        "keep_permille",
        F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
        F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
    )


#: Token budget per packed training sequence.
PACK_BUDGET = 512
#: Documents per prefix-sum bucket: within-bucket running totals window in
#: parallel; the bucket-level frame is n_docs/width rows (a second window
#: level on one task covers ~10^9 docs at this width; recurse past that).
PACK_BUCKET_WIDTH = 128


@register(
    "pp2_sequence_packing",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_toks,
                   SUM(n_toks) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM t
        )
        SELECT doc_id, n_toks,
               CAST((cum - n_toks) // {PACK_BUDGET} AS BIGINT) AS seq_id,
               CAST((cum - n_toks) % {PACK_BUDGET} AS BIGINT) AS seq_offset
        FROM c
    """,
    doc=f"Training-sequence packing: concatenate the corpus in doc_id "
    f"order and slice into {PACK_BUDGET}-token context windows — each "
    "document's sequence id and offset derive from the exclusive running "
    "token total (the concat-and-chunk packing every LLM pretraining "
    "loader runs). The running total is a DISTRIBUTED prefix sum, not a "
    "single ordered window: within-bucket windows (doc_id div "
    f"{PACK_BUCKET_WIDTH}) run in parallel, bucket totals get their own "
    "tiny cumulative window, and the exclusive bucket prefix broadcasts "
    "back — two shuffles + a broadcast regardless of corpus size, where "
    "the naive OVER (ORDER BY doc_id) serializes 100 TB through one "
    "task. w2 keeps the naive shape for oracle parity of plain window "
    "semantics; this is the scale-correct form.",
    tags=("pipeline", "llm", "packing"),
)
def pp2_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _pp2_start_frame(spark, sf_dir)
    return s.select(
        "doc_id",
        "n_toks",
        F.floor(F.col("start") / PACK_BUDGET).cast("long").alias("seq_id"),
        (F.col("start") % PACK_BUDGET).cast("long").alias("seq_offset"),
    )


def _pp2_start_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_toks, start): each document's exclusive global token
    offset, via pp2's distributed two-level prefix sum."""
    from pyspark.sql import Window

    d = load_table_parallel(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    t = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        (F.col("doc_id") / PACK_BUCKET_WIDTH).cast("long").alias("bucket"),
    )
    within = F.sum("n_toks").over(
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_doc = t.withColumn("within_cum", within)
    btot = t.groupBy("bucket").agg(F.sum("n_toks").alias("btot"))
    bprefix = btot.select(
        "bucket",
        (
            F.coalesce(
                F.sum("btot").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("bprefix"),
    )
    return per_doc.join(F.broadcast(bprefix), "bucket").select(
        "doc_id",
        "n_toks",
        (F.col("within_cum") + F.col("bprefix") - F.col("n_toks")).alias(
            "start"
        ),
    )


@register(
    "pp2b_packed_doc_spans",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_toks,
                   CAST(SUM(n_toks) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_toks AS BIGINT) AS st
            FROM t
        ),
        spans AS (
            SELECT doc_id, n_toks, st,
                   unnest(generate_series(st // {PACK_BUDGET},
                                          (st + n_toks - 1) // {PACK_BUDGET}))
                       AS seq_id
            FROM c
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(greatest(seq_id * {PACK_BUDGET}, st) - st
                    AS BIGINT) AS slice_start,
               CAST(least((seq_id + 1) * {PACK_BUDGET}, st + n_toks)
                    - greatest(seq_id * {PACK_BUDGET}, st)
                    AS BIGINT) AS slice_len,
               CAST(greatest(seq_id * {PACK_BUDGET}, st)
                    - seq_id * {PACK_BUDGET} AS BIGINT) AS seq_offset
        FROM spans
    """,
    doc="pp2 v2 — the loader-consumable form of sequence packing: each "
    "(sequence, document) overlap becomes a row (seq_id, doc_id, "
    "slice_start, slice_len, seq_offset), so a training loader GROUP BY "
    "seq_id gets exactly the token slices (joinable with tx9's chunks "
    "on doc_id) that concatenate into each fixed-width context window — "
    "including documents that CROSS sequence boundaries, which emit one "
    "row per touched sequence via an explode over their global token "
    "interval. The span explode is a map-only Generate on top of pp2's "
    "distributed prefix sum, so the whole operator keeps pp2's scale "
    "shape: two shuffles + one broadcast regardless of corpus size, and "
    "output rows ~ n_docs + total_tokens/budget.",
    tags=("pipeline", "llm", "packing"),
)
def pp2b_packed_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _pp2_start_frame(spark, sf_dir)
    spans = s.select(
        "doc_id",
        "n_toks",
        "start",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / PACK_BUDGET),
                F.floor((F.col("start") + F.col("n_toks") - 1) / PACK_BUDGET),
            )
        ).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * PACK_BUDGET
    clip_lo = F.greatest(seq_lo, F.col("start"))
    clip_hi = F.least(seq_lo + PACK_BUDGET, F.col("start") + F.col("n_toks"))
    return spans.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (clip_lo - F.col("start")).cast("long").alias("slice_start"),
        (clip_hi - clip_lo).cast("long").alias("slice_len"),
        (clip_lo - seq_lo).cast("long").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# dd10: cross-document line-level dedup (round 4)
# ---------------------------------------------------------------------------

#: Tokens per pseudo-line. The fixture's text is a flat word stream (no
#: newlines), so "lines" are fixed token windows; a real crawl corpus swaps
#: the splitter for split(text, '\n') and the plan is untouched.
LINE_TOKENS = 10

#: line_idx packing for the keep-first key (doc_id * SHIFT + line_idx):
#: comfortably above any per-doc line count, keeps the key a plain BIGINT
#: min — identical arithmetic on both engines.
_LINE_SHIFT = 1_000_000


@register(
    "dd10_line_dedup",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ),
        idx AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1,
                       CAST(ceil(len(toks) / {LINE_TOKENS}.0) AS INT)))
                       AS line_idx
            FROM t
        ),
        l AS (
            SELECT doc_id, line_idx,
                   array_to_string(
                       toks[(line_idx - 1) * {LINE_TOKENS} + 1
                            : line_idx * {LINE_TOKENS}], ' ') AS line
            FROM idx
        ),
        keep AS (
            SELECT line,
                   MIN(doc_id * {_LINE_SHIFT} + line_idx) AS keeper
            FROM l GROUP BY line
        )
        SELECT l.doc_id,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN l.doc_id * {_LINE_SHIFT} + l.line_idx
                                  = k.keeper THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lines_kept,
               COALESCE(string_agg(
                   CASE WHEN l.doc_id * {_LINE_SHIFT} + l.line_idx = k.keeper
                        THEN l.line END, ' ' ORDER BY l.line_idx), '')
                   AS text_kept
        FROM l JOIN keep k ON l.line = k.line
        GROUP BY l.doc_id
    """,
    doc=f"Cross-document line-level dedup — the C4 preprocessing step "
    "(one occurrence of every line survives corpus-wide, all repeats are "
    "cut out of their documents): explode documents into "
    f"{LINE_TOKENS}-token pseudo-lines with positions (map-only; a real "
    "crawl swaps in split-on-newline), pick each distinct line's keeper "
    "as the minimum (doc_id, line_idx) occurrence (one shuffle, map-side "
    "combined min), mark lines against their keeper (shuffle join on the "
    "line; AQE broadcasts when the keeper table is small), and reassemble "
    "each document's surviving text in line order (one shuffle; "
    "order-insensitive collect + in-group sort, deterministic under any "
    "partitioning). Output: per-doc line counts and the reassembled "
    "deduplicated text. At 100 TB the keeper aggregate and the join both "
    "key on the line hash — uniform unless the corpus shares boilerplate, "
    "which is exactly what this operator removes first.",
    tags=("dedup", "llm", "lines"),
)
def dd10_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup(load_table_parallel(spark, sf_dir, "documents"))


def line_dedup(d: DataFrame) -> DataFrame:
    """dd10's core over any (doc_id, text) frame — exposed so the
    property suite can drive it with adversarial tiny-vocabulary corpora
    against a pure-Python reference."""
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    lines = (
        d.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, CAST(ceil(size(t) / {LINE_TOKENS}.0) AS INT)), "
                    f"i -> struct(i AS line_idx, "
                    f"concat_ws(' ', slice(t, (i - 1) * {LINE_TOKENS} + 1, "
                    f"{LINE_TOKENS})) AS line))"
                )
            ).alias("l"),
        )
        .select(
            "doc_id",
            F.col("l.line_idx").alias("line_idx"),
            F.col("l.line").alias("line"),
        )
        .withColumn("pos_key", F.col("doc_id") * _LINE_SHIFT + F.col("line_idx"))
    )
    keep = lines.groupBy("line").agg(F.min("pos_key").alias("keeper"))
    marked = lines.join(keep, "line").withColumn(
        "kept", F.col("pos_key") == F.col("keeper")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_lines_kept"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list("
                    "CASE WHEN kept THEN struct(line_idx, line) END)), "
                    "s -> s.line)"
                ),
            ).alias("text_kept"),
        )
    )


#: pp8: hash-bucket fan-out for the distributed global rank (the bucket id
#: is the TOP bits of the shuffle hash, so (bucket, hash) sorts identically
#: to hash alone).
PP8_BUCKET_SHIFT = 52  # 2^60-bit hash -> 256 rank buckets


@register(
    "pp8_corpus_shuffle",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   {DUCK_HEX2INT.format(s="concat('shuffle:', CAST(doc_id AS VARCHAR))")}
                       AS shuffle_key
            FROM documents
        )
        SELECT doc_id, shuffle_key,
               CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id)
                    AS BIGINT) AS shuffle_rank
        FROM h
    """,
    doc="Deterministic corpus shuffle — the 'shuffle once, stream "
    "forever' step before training: every document gets a salted-hash "
    "shuffle key (reproducible across runs, independent of input "
    "order) and a GLOBAL dense rank in that order. The oracle states "
    "the single global ROW_NUMBER; the Spark plan never runs one "
    "(a global window is a single-task sort — the anti-pattern w4 "
    "flags): the hash's top bits split the corpus into 256 rank "
    "buckets whose order is consistent with the full key, ranks are "
    "computed per-bucket in parallel windows, bucket counts prefix-sum "
    "on a 256-row frame, and the broadcast-joined offsets rebase each "
    "bucket — pp2's two-level prefix sum applied to ranks. At 100 TB "
    "this is exactly how a corpus is written in shuffled order: "
    "repartitionByRange on the key, rank within files, offset by file "
    "ordinal.",
    tags=("pipeline", "llm", "sampling"),
)
def pp8_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table_parallel(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        F.expr(
            SPARK_HEX2INT.format(s="concat('shuffle:', CAST(doc_id AS STRING))")
        ).alias("shuffle_key"),
    ).select(
        "doc_id",
        "shuffle_key",
        F.shiftright("shuffle_key", PP8_BUCKET_SHIFT).alias("bucket"),
    )
    within = F.row_number().over(
        Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    )
    per_doc = h.withColumn("within_rank", within)
    btot = h.groupBy("bucket").agg(F.count("*").alias("btot"))
    bprefix = btot.select(
        "bucket",
        F.coalesce(
            F.sum("btot").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("bprefix"),
    )
    return per_doc.join(F.broadcast(bprefix), "bucket").select(
        "doc_id",
        "shuffle_key",
        (F.col("bprefix") + F.col("within_rank")).cast("long").alias(
            "shuffle_rank"
        ),
    )


A18_BUCKETS = 20
A18_LO_CENTS = 0
A18_HI_CENTS = 60_000_000  # o_totalprice tops out well under 600k


@register(
    "a18_value_histogram",
    oracle=f"""
        WITH b AS (
            SELECT LEAST(GREATEST(
                       (CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        - {A18_LO_CENTS})
                       * {A18_BUCKETS}
                       // ({A18_HI_CENTS} - {A18_LO_CENTS}),
                       0), {A18_BUCKETS} - 1) AS bucket
            FROM orders
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST({A18_LO_CENTS} + bucket
                    * (({A18_HI_CENTS} - {A18_LO_CENTS}) // {A18_BUCKETS})
                    AS BIGINT) AS lo_cents,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM b GROUP BY bucket
    """,
    doc=f"Equi-width value histogram ({A18_BUCKETS} buckets over order "
    "value) — the column-statistics shape ANALYZE TABLE materializes "
    "into Iceberg puffin/stats files for the optimizer's selectivity "
    "estimates, and the profile a data-quality dashboard plots. "
    "Bucketing is exact integer arithmetic (cents, floor division, "
    "clamped edges) so the histogram is bitwise reproducible; one "
    "partial+final aggregate over at most "
    f"{A18_BUCKETS} groups, the cheapest possible shuffle at any "
    "scale. Out-of-range values clamp into the edge buckets (the "
    "standard sketch convention) rather than dropping.",
    tags=("aggregate", "stats", "profile"),
)
def a18_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    width_expr = (A18_HI_CENTS - A18_LO_CENTS) // A18_BUCKETS
    bucket = F.least(
        F.greatest(
            F.expr(
                f"(CAST(ROUND(o_totalprice * 100) AS BIGINT) - {A18_LO_CENTS})"
                f" * {A18_BUCKETS} DIV ({A18_HI_CENTS} - {A18_LO_CENTS})"
            ),
            F.lit(0),
        ),
        F.lit(A18_BUCKETS - 1),
    )
    return (
        o.select(bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"))
        .select(
            "bucket",
            (A18_LO_CENTS + F.col("bucket").cast("long") * width_expr).alias(
                "lo_cents"
            ),
            "n_rows",
        )
    )


A19_TOP = 5


@register(
    "a19_skew_report",
    oracle=f"""
        WITH k AS (
            SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey
        ),
        stats AS (
            SELECT CAST(MAX(n) AS BIGINT) AS max_n,
                   CAST(SUM(n) AS BIGINT) AS total_n,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM k
        ),
        top AS (
            SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk
            FROM k
        )
        SELECT t.rk AS rank, t.key AS heavy_key, t.n AS key_rows,
               s.n_keys, s.total_n,
               CAST(t.n AS DOUBLE) * s.n_keys / s.total_n AS skew_factor
        FROM top t CROSS JOIN stats s
        WHERE t.rk <= {A19_TOP}
    """,
    doc=f"Join-key skew diagnosis — the report you run BEFORE reaching "
    "for m2's salted join: per-key cardinalities of the prospective "
    "join key, the top-"
    f"{A19_TOP} heavy hitters, and each one's skew factor "
    "(its row count relative to the uniform share — a factor of 1 is "
    "perfectly even; AQE's skew-join threshold logic keys off the "
    "same ratio). One aggregation over the key, a "
    f"{A19_TOP}-row top-k (TakeOrdered, no global sort), and a "
    "single-row stats frame cross-joined back (broadcast of one row). "
    "At 100 TB this is the cheap planning probe that decides between "
    "plain, broadcast, and salted join strategies.",
    tags=("aggregate", "stats", "skew"),
)
def a19_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    stats = k.agg(
        F.max("n").alias("max_n"),
        F.sum("n").alias("total_n"),
        F.count("*").alias("n_keys"),
    )
    # orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    # top-5 then a 5-row driver merge, never a global sort of all keys.
    # The rank window then runs over exactly A19_TOP rows.
    top = k.orderBy(F.desc("n"), F.asc("key")).limit(A19_TOP).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("key"))),
    )
    return top.join(F.broadcast(stats)).select(
        "rank",
        F.col("key").alias("heavy_key"),
        F.col("n").alias("key_rows"),
        "n_keys",
        "total_n",
        (
            F.col("n").cast("double") * F.col("n_keys") / F.col("total_n")
        ).alias("skew_factor"),
    )


@register(
    "a20_cohort_retention",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
                       AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   CAST(date_diff('day', f.cohort_week,
                        CAST(date_trunc('week', e.ts) AS TIMESTAMP)) // 7
                        AS INT) AS week_offset
            FROM events e JOIN firsts f ON f.user_id = e.user_id
        )
        SELECT cohort_week, week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active_users
        FROM activity
        GROUP BY cohort_week, week_offset
    """,
    doc="Cohort retention matrix — the canonical product-analytics "
    "triangle: users grouped by first-seen week (their cohort), then "
    "for every later week the count still active, keyed by "
    "(cohort_week, week_offset). Two aggregations and one join, all "
    "keyed on user_id, so Catalyst reuses a single hash partitioning "
    "for the firsts aggregate, the enrich join, and the DISTINCT "
    "dedup; only the final tiny (cohort x offset) rollup reshuffles — "
    "at 100 TB of events this is one partitioned pass plus a "
    "few-hundred-row aggregate. Week arithmetic is integer day "
    "difference floor-divided by 7 on both engines (no timezone or "
    "ISO-week ambiguity).",
    tags=("aggregate", "analytics", "cohort"),
)
def a20_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")), F.col("cohort_week")
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active_users")
    )


MM7_QUERIES = 50  # doc_id < 50 are the query images


@register(
    "mm7_image_search",
    oracle=f"""
        WITH r AS (
            SELECT doc_id,
                   [ascii(substr(text,
                        1 + CAST(floor(k * length(text) / {DHASH_BITS + 1}) AS INT), 1))
                    for k in generate_series(0, {DHASH_BITS})] AS v
            FROM documents
            WHERE length(text) >= {DHASH_BITS + 1}
        ),
        h AS (
            SELECT doc_id,
                   CAST(COALESCE(list_sum([
                       CASE WHEN v[k + 1] > v[k + 2]
                            THEN CAST(1 AS BIGINT) << k ELSE 0 END
                       for k in generate_series(0, {DHASH_BITS - 1})]), 0)
                       AS BIGINT) AS dhash
            FROM r
        )
        SELECT q.doc_id AS query_doc_id, c.doc_id AS match_doc_id,
               CAST(bit_count(xor(q.dhash, c.dhash)) AS INT) AS hamming
        FROM h q JOIN h c
          ON q.doc_id < {MM7_QUERIES} AND c.doc_id <> q.doc_id
         AND bit_count(xor(q.dhash, c.dhash)) <= {MM6_HAMMING_MAX}
    """,
    doc=f"Perceptual-hash image SEARCH — the query-time dual of mm6's "
    f"offline clustering: {MM7_QUERIES} query images look up every "
    f"corpus image within Hamming radius {MM6_HAMMING_MAX} of their "
    "dHash. The corpus explodes once into mm6's bit-band buckets (the "
    "index); each query probes only its own "
    f"{MM6_BANDS} band keys — a broadcast join against a handful of "
    "rows — and candidates verify with one xor+bit_count. Pigeonhole "
    "keeps the banded probe LOSSLESS, so the oracle can state the "
    "plain all-pairs predicate. At 100 TB the banded index is a "
    "bucketed table and each query touches #bands buckets, not the "
    "corpus — exactly how reverse-image-search serves from pHash "
    "indexes.",
    tags=("multimodal", "llm", "similarity"),
)
def mm7_image_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    h = (
        d.filter(F.length("text") >= DHASH_BITS + 1)
        .select("doc_id", F.expr(_DHASH_V_EXPR).alias("__v"))
        .select("doc_id", F.expr(_DHASH_EXPR).alias("dhash"))
    )
    band_structs = ", ".join(
        f"struct({b} AS band_id, "
        f"shiftright(dhash, {MM6_BAND_BITS * b}) & {2 ** MM6_BAND_BITS - 1} "
        f"AS band_key)"
        for b in range(MM6_BANDS)
    )
    corpus_bands = h.select(
        "doc_id",
        "dhash",
        F.explode(F.expr(f"array({band_structs})")).alias("b"),
    ).select("doc_id", "dhash", "b.band_id", "b.band_key")
    query_bands = F.broadcast(
        h.filter(F.col("doc_id") < MM7_QUERIES)
        .select(
            F.col("doc_id").alias("query_doc_id"),
            F.col("dhash").alias("q_dhash"),
            F.explode(F.expr(f"array({band_structs})")).alias("b"),
        )
        .select("query_doc_id", "q_dhash", "b.band_id", "b.band_key")
    )
    return (
        corpus_bands.join(query_bands, ["band_id", "band_key"])
        .filter(F.col("doc_id") != F.col("query_doc_id"))
        .select(
            "query_doc_id",
            F.col("doc_id").alias("match_doc_id"),
            F.expr("CAST(bit_count(q_dhash ^ dhash) AS INT)").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= MM6_HAMMING_MAX)
        .distinct()
    )


@register(
    "pp9_multimodal_curation",
    oracle=f"""
        WITH q AS (
            SELECT * FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
              AND length(text) BETWEEN 50 AND 10000
        ),
        s2 AS (
            SELECT q.* FROM q
            JOIN (SELECT MIN(doc_id) AS keeper FROM q
                  GROUP BY md5(lower(trim(text)))) k
              ON q.doc_id = k.keeper
        ),
        r AS (
            SELECT doc_id,
                   [ascii(substr(text,
                        1 + CAST(floor(k * length(text) / {DHASH_BITS + 1}) AS INT), 1))
                    for k in generate_series(0, {DHASH_BITS})] AS v
            FROM s2
            WHERE length(text) >= {DHASH_BITS + 1}
        ),
        h AS (
            SELECT doc_id,
                   CAST(COALESCE(list_sum([
                       CASE WHEN v[k + 1] > v[k + 2]
                            THEN CAST(1 AS BIGINT) << k ELSE 0 END
                       for k in generate_series(0, {DHASH_BITS - 1})]), 0)
                       AS BIGINT) AS dhash
            FROM r
        ),
        img_dupes AS (
            SELECT DISTINCT b.doc_id
            FROM h a JOIN h b
              ON a.doc_id < b.doc_id
             AND bit_count(xor(a.dhash, b.dhash)) <= {MM6_HAMMING_MAX}
        )
        SELECT s2.doc_id, s2.lang, s2.source,
               CAST(length(s2.text) AS BIGINT) AS n_chars
        FROM s2
        WHERE s2.doc_id NOT IN (SELECT doc_id FROM img_dupes)
    """,
    doc="Multimodal curation — pp1's funnel shape with an IMAGE "
    "near-dup stage composed in: quality gates (scan-pushed) -> exact "
    "text dedup -> perceptual-hash near-dup removal (mm6's banded "
    "Hamming candidates, keep-lowest rule, pp4's drop convention — "
    "payload bytes stand in for decoded pixels exactly as in mm5). "
    "Real multimodal corpora dedup text AND media independently "
    "because near-identical images recirculate under different "
    "captions; this is that pipeline stage, still one lazy plan: the "
    "image stage adds one banded self-join and a left-anti drop over "
    "only the exact-dedup survivors. The oracle states the all-pairs "
    "Hamming predicate (pigeonhole keeps the banded plan lossless).",
    tags=("pipeline", "llm", "multimodal", "dedup"),
)
def pp9_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.operators.pipeline import mm6_hamming_pairs

    d = load_table_parallel(spark, sf_dir, "documents")
    q = d.filter(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.length("text").between(50, 10000)
    )
    s2 = _keep_min(q, F.md5(F.lower(F.trim(F.col("text")))))
    img_dupes = (
        mm6_hamming_pairs(s2)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    return s2.join(img_dupes, "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# pp10: the COMPLETE multimodal pretraining-data job (round-5 capstone)
# ---------------------------------------------------------------------------


def _pp10_oracle() -> str:
    from apache_iceberg_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_lsh_ctes,
    )

    # Funnel third stage: fuzzy LSH dedup (pp6's), then pp9's perceptual-
    # hash image near-dup drop over its survivors.
    stage3 = f"""{minhash_lsh_ctes("s2")},
        s3f AS (
            SELECT s2.* FROM s2
            WHERE s2.doc_id NOT IN (
                SELECT doc_id_b FROM verified
                WHERE jaccard >= {JACCARD_THRESHOLD})
        ),
        ir AS (
            SELECT doc_id,
                   [ascii(substr(text,
                        1 + CAST(floor(k * length(text) / {DHASH_BITS + 1}) AS INT), 1))
                    for k in generate_series(0, {DHASH_BITS})] AS v
            FROM s3f
            WHERE length(text) >= {DHASH_BITS + 1}
        ),
        ih AS (
            SELECT doc_id,
                   CAST(COALESCE(list_sum([
                       CASE WHEN v[k + 1] > v[k + 2]
                            THEN CAST(1 AS BIGINT) << k ELSE 0 END
                       for k in generate_series(0, {DHASH_BITS - 1})]), 0)
                       AS BIGINT) AS dhash
            FROM ir
        ),
        img_dupes AS (
            SELECT DISTINCT b.doc_id
            FROM ih a JOIN ih b
              ON a.doc_id < b.doc_id
             AND bit_count(xor(a.dhash, b.dhash)) <= {MM6_HAMMING_MAX}
        ),
        s3 AS (
            SELECT s3f.* FROM s3f
            WHERE s3f.doc_id NOT IN (SELECT doc_id FROM img_dupes)
        )"""
    shuffle_key = DUCK_HEX2INT.format(
        s="concat('shuffle:', CAST(doc_id AS VARCHAR))"
    )
    return f"""
        WITH {_funnel_ctes(stage3)}{_DECONTAM_CTES_DUCK},
        tr AS (
            SELECT doc_id,
                   CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks,
                   {shuffle_key} AS shuffle_key
            FROM clean WHERE split = 'train'
        ),
        c AS (
            SELECT doc_id, n_toks, shuffle_key,
                   CAST(SUM(n_toks) OVER (ORDER BY shuffle_key, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_toks AS BIGINT) AS st
            FROM tr
        ),
        spans AS (
            SELECT doc_id, n_toks, st,
                   unnest(generate_series(st // {PACK_BUDGET},
                                          (st + n_toks - 1) // {PACK_BUDGET}))
                       AS seq_id
            FROM c
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(greatest(seq_id * {PACK_BUDGET}, st) - st
                    AS BIGINT) AS slice_start,
               CAST(least((seq_id + 1) * {PACK_BUDGET}, st + n_toks)
                    - greatest(seq_id * {PACK_BUDGET}, st)
                    AS BIGINT) AS slice_len,
               CAST(greatest(seq_id * {PACK_BUDGET}, st)
                    - seq_id * {PACK_BUDGET} AS BIGINT) AS seq_offset
        FROM spans
    """


@register(
    "pp10_pretraining_job",
    oracle=_pp10_oracle(),
    doc="The COMPLETE multimodal pretraining-data job — every stage of "
    "pp6's text capstone plus pp9's image stage, ending in the "
    "loader-consumable artifact (pp2b's packed spans in pp8's shuffled "
    "order), one job. This is the furthest extension of the reference's "
    "source -> tables -> queries -> export pipeline story "
    "(bot_iceberg_loader.py:371-477) to the 100 TB training-data shape: "
    "data-contract quality gates (scan-pushed) -> "
    "URL-canonical dedup -> exact-content dedup -> MinHash-LSH fuzzy "
    "near-dup removal (banded, verified) -> perceptual-hash IMAGE "
    "near-dup removal over the survivors (banded Hamming, pigeonhole-"
    "lossless) -> per-language stratified downsampling -> leakage-safe "
    "split assignment -> parallel parquet checkpoint (the corpus "
    "artifact; bounds lineage, materializes the funnel exactly once) -> "
    "bloom-prefiltered benchmark decontamination -> deterministic "
    "corpus shuffle of the train split (salted hash; the global order "
    "is stated by the oracle's single window but COMPUTED as pp8's "
    "two-level bucketed rank — no single-partition sort) -> sequence "
    "packing into fixed token budgets via the distributed prefix sum "
    "(pp2), emitting per-(sequence, document) token slices (pp2b's "
    "explode, map-only). Scale shape: every dedup stage shuffles only "
    "the prior stage's survivors; candidate generation is banded "
    "(never all-pairs); decontamination broadcasts a constant-size "
    "bloom; the prefix sum and shuffle rank are two-shuffle-plus-"
    "broadcast at any corpus size; the one materialization is the "
    "checkpoint every real pipeline persists anyway.",
    tags=("pipeline", "llm", "flagship", "multimodal", "packing"),
)
def pp10_pretraining_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Eager localCheckpoint materializes the funnel exactly once and cuts
    # lineage; the parquet corpus artifact is then a SIDE OUTPUT written
    # from the checkpointed partitions, and downstream stages read those
    # same partitions instead of re-reading the files — the write+re-read
    # round trip the previous shape paid per invocation (VERDICT r5 #8).
    curated = _pp1_curated_frame(
        spark, sf_dir, fuzzy=True, image_dedup=True
    ).localCheckpoint(eager=True)
    path = os.path.join(_export_tmpdir("pretrain_"), "curated")
    curated.write.parquet(path)
    clean = _decontaminated_frame(curated)

    # Train split in deterministic shuffled order: salted-hash key, rank
    # buckets from its top bits (pp8), within-bucket token prefix sums in
    # parallel windows, bucket totals rebased by a broadcast prefix (pp2).
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    tr = clean.filter(F.col("split") == "train").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.expr(
            SPARK_HEX2INT.format(s="concat('shuffle:', CAST(doc_id AS STRING))")
        ).alias("shuffle_key"),
    )
    tr = tr.withColumn(
        "bucket", F.shiftright("shuffle_key", PP8_BUCKET_SHIFT)
    ).persist()  # plan-cache
    # ^ tr (4 numeric columns, no text) feeds BOTH the within-bucket
    # window and the bucket-totals aggregate; without the persist the
    # whole decontam subtree (incl. the bloom build) duplicates into both
    # branches — their exchanges have different children (partial agg vs
    # raw), so ReuseExchange cannot dedup them.
    within = F.sum("n_toks").over(
        Window.partitionBy("bucket")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_doc = tr.withColumn("within_cum", within)
    btot = tr.groupBy("bucket").agg(F.sum("n_toks").alias("btot"))
    bprefix = btot.select(
        "bucket",
        F.coalesce(
            F.sum("btot").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("bprefix"),
    )
    started = per_doc.join(F.broadcast(bprefix), "bucket").select(
        "doc_id",
        "n_toks",
        (F.col("within_cum") + F.col("bprefix") - F.col("n_toks")).alias(
            "start"
        ),
    )
    # pp2b's span explode: one row per (sequence, document) overlap.
    spans = started.select(
        "doc_id",
        "n_toks",
        "start",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / PACK_BUDGET),
                F.floor((F.col("start") + F.col("n_toks") - 1) / PACK_BUDGET),
            )
        ).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * PACK_BUDGET
    clip_lo = F.greatest(seq_lo, F.col("start"))
    clip_hi = F.least(seq_lo + PACK_BUDGET, F.col("start") + F.col("n_toks"))
    return spans.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (clip_lo - F.col("start")).cast("long").alias("slice_start"),
        (clip_hi - clip_lo).cast("long").alias("slice_len"),
        (clip_lo - seq_lo).cast("long").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# pp11: quality-curriculum training order (round 5)
# ---------------------------------------------------------------------------

#: Fixed equi-width buckets over tx2's quality score range [0, 1] —
#: boundary-based (a18's histogram shape), NOT ntile: ntile is a global
#: single-task sort; fixed edges are map-only and stable across runs.
PP11_BUCKETS = 10


@register(
    "pp11_curriculum_order",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(string_split_regex(lower(trim(text)), '{_TOKEN_SPLIT}')) AS n_tokens,
                   len(list_filter(string_split_regex(lower(trim(text)), '{_TOKEN_SPLIT}'),
                       tok -> list_contains({STOPWORDS['en']!r}, tok))) AS n_stop,
                   len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
            FROM documents
        ),
        q AS (
            SELECT doc_id,
                   (CAST(n_stop AS DOUBLE) / n_tokens) * 0.5
                     + (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000
                             THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1
                             THEN 0.2 ELSE 0.0 END) AS quality
            FROM t
        ),
        b AS (
            SELECT doc_id, quality,
                   CAST(LEAST(FLOOR(quality * {PP11_BUCKETS}),
                              {PP11_BUCKETS - 1}) AS BIGINT) AS quality_bucket,
                   {DUCK_HEX2INT.format(
                       s="concat('curriculum:', CAST(doc_id AS VARCHAR))")}
                       AS shuffle_key
            FROM q
        )
        SELECT doc_id, quality_bucket, shuffle_key,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY quality_bucket, shuffle_key, doc_id
               ) AS BIGINT) AS curriculum_rank
        FROM b
    """,
    doc="Quality-curriculum training order — the data-ordering step of "
    "annealed pretraining mixes: documents are scored with tx2's "
    "heuristic quality, binned into fixed equi-width quality buckets "
    "(map-only boundary test, never an ntile global sort), shuffled "
    "deterministically WITHIN each bucket (salted hash), and assigned a "
    "GLOBAL curriculum rank ascending in quality — so the highest-"
    "quality data lands at the end of training, the documented "
    "annealing practice. The global rank is pp8's two-level scheme over "
    "the composite (quality_bucket, hash-top-bits) unit: per-unit "
    "windows in parallel, a tiny unit-count frame prefix-sums on one "
    "task, broadcast offsets rebase — no single-partition pass over "
    "the corpus at any size. Composes the registered tx2 plan; the "
    "oracle states the single global ROW_NUMBER the distributed plan "
    "must equal.",
    tags=("pipeline", "llm", "sampling", "curriculum"),
)
def pp11_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from apache_iceberg_spark.operators.text import tx2_quality_score

    q = tx2_quality_score(spark, sf_dir).select("doc_id", "quality")
    b = q.select(
        "doc_id",
        F.least(
            F.floor(F.col("quality") * PP11_BUCKETS), F.lit(PP11_BUCKETS - 1)
        )
        .cast("long")
        .alias("quality_bucket"),
        F.expr(
            SPARK_HEX2INT.format(
                s="concat('curriculum:', CAST(doc_id AS STRING))"
            )
        ).alias("shuffle_key"),
    ).withColumn(
        "sub", F.shiftright("shuffle_key", PP8_BUCKET_SHIFT)
    )
    within = F.row_number().over(
        Window.partitionBy("quality_bucket", "sub").orderBy(
            "shuffle_key", "doc_id"
        )
    )
    per_doc = b.withColumn("within_rank", within)
    utot = b.groupBy("quality_bucket", "sub").agg(F.count("*").alias("n"))
    uprefix = utot.select(
        "quality_bucket",
        "sub",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("quality_bucket", "sub").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("uprefix"),
    )
    return per_doc.join(
        F.broadcast(uprefix), ["quality_bucket", "sub"]
    ).select(
        "doc_id",
        "quality_bucket",
        "shuffle_key",
        (F.col("uprefix") + F.col("within_rank")).cast("long").alias(
            "curriculum_rank"
        ),
    )


# ---------------------------------------------------------------------------
# mm8: video near-dup via per-frame perceptual-hash voting (round 5)
# ---------------------------------------------------------------------------

MM8_FRAMES = 4      # payload quarters stand in for sampled keyframes
MM8_MIN_MATCH = 3   # frames (of 4) that must Hamming-match to call a dup
_MM8_MIN_LEN = (DHASH_BITS + 1) * MM8_FRAMES  # every quarter must resample


@register(
    "mm8_video_neardup_pairs",
    oracle=f"""
        WITH v AS (
            SELECT doc_id, text, length(text) // {MM8_FRAMES} AS qlen
            FROM documents WHERE length(text) >= {_MM8_MIN_LEN}
        ),
        fr AS (
            SELECT doc_id, f, substr(text, 1 + f * qlen, qlen) AS ft
            FROM v, generate_series(0, {MM8_FRAMES - 1}) AS g(f)
        ),
        r AS (
            SELECT doc_id, f,
                   [ascii(substr(ft,
                        1 + CAST(floor(k * length(ft) / {DHASH_BITS + 1}) AS INT), 1))
                    for k in generate_series(0, {DHASH_BITS})] AS vv
            FROM fr
        ),
        h AS (
            SELECT doc_id, f,
                   CAST(COALESCE(list_sum([
                       CASE WHEN vv[k + 1] > vv[k + 2]
                            THEN CAST(1 AS BIGINT) << k ELSE 0 END
                       for k in generate_series(0, {DHASH_BITS - 1})]), 0)
                       AS BIGINT) AS dhash
            FROM r
        ),
        fm AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.f
            FROM h a JOIN h b
              ON a.f = b.f AND a.doc_id < b.doc_id
             AND bit_count(xor(a.dhash, b.dhash)) <= {MM6_HAMMING_MAX}
        )
        SELECT doc_id_a, doc_id_b,
               CAST(COUNT(*) AS BIGINT) AS n_frames_matched,
               COUNT(*) >= {MM8_MIN_MATCH} AS is_dup
        FROM fm GROUP BY 1, 2
    """,
    doc=f"VIDEO near-duplicate pairs via per-frame perceptual-hash "
    f"voting — the media-dedup shape for multi-frame payloads: each "
    f"payload splits into {MM8_FRAMES} deterministic segments (standing "
    "in for sampled keyframes, mm3's stride pattern at fixed relative "
    "positions so frame indices align across lengths), each frame gets "
    "mm5's dHash, and two videos are near-dups when ≥ "
    f"{MM8_MIN_MATCH} of {MM8_FRAMES} same-index frames land within "
    f"Hamming radius {MM6_HAMMING_MAX} — the frame-voting rule that "
    "tolerates an edited intro/outro while catching re-encodes "
    "(on the sf0.1 fixture the vote separates 7 all-frame dups from "
    "532 single-frame coincidences). Every candidate pair is emitted "
    "with its vote count and the decision flag, dd11's profile "
    "philosophy: the distribution is the evidence for the threshold. "
    "Candidates come from mm6's bit-band buckets keyed by "
    "(frame_idx, band_id, band_key) — pigeonhole keeps per-frame "
    "banding LOSSLESS, so the oracle states the plain all-pairs "
    "predicate while the plan never goes all-pairs; the vote count is "
    "one partial+final aggregate over verified (pair, frame) rows. At "
    "100 TB this is the real pipeline: frame hashes are a stored index "
    "bucketed by band key; a new video probes it with #frames x "
    "#bands rows.",
    tags=("multimodal", "llm", "dedup", "video"),
)
def mm8_video_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    v = d.filter(F.length("text") >= _MM8_MIN_LEN).select(
        "doc_id",
        "text",
        F.expr(f"length(text) DIV {MM8_FRAMES}").alias("qlen"),
    )
    fr = v.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {MM8_FRAMES - 1})")).alias("f"),
        F.expr("substr(text, 1 + f * qlen, qlen)").alias("ft"),
    )
    # Per-frame dHash: mm5's expressions re-targeted at the frame text.
    h = fr.select(
        "doc_id", "f", F.expr(_DHASH_V_EXPR.replace("text", "ft")).alias("__v")
    ).select("doc_id", "f", F.expr(_DHASH_EXPR).alias("dhash"))
    band_structs = ", ".join(
        f"struct({b} AS band_id, "
        f"shiftright(dhash, {MM6_BAND_BITS * b}) & {2 ** MM6_BAND_BITS - 1} "
        f"AS band_key)"
        for b in range(MM6_BANDS)
    )
    # dd16's Manku-table factoring per frame index (VERDICT r5 ask #4):
    # dedupe the (frame, dHash) space first so the banded search runs
    # over DISTINCT per-frame hashes — k re-encodes sharing a frame hash
    # cost one group row, not O(k²) lambda work; memberships expand
    # only at output time.
    groups = (
        h.groupBy("f", "dhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .persist()  # plan-cache
    )
    intra = (
        groups.filter(F.size("ids") > 1)
        .select(
            "f",
            F.explode(
                F.expr(
                    "flatten(transform(ids, a -> "
                    "transform(filter(ids, b -> b > a), "
                    "b -> struct(a AS doc_id_a, b AS doc_id_b))))"
                )
            ).alias("p"),
        )
        .select("p.doc_id_a", "p.doc_id_b", "f")
    )
    bands = groups.select(
        "f",
        "dhash",
        "ids",
        F.explode(F.expr(f"array({band_structs})")).alias("b"),
    ).select("f", "dhash", "ids", "b.band_id", "b.band_key")
    # mm6's in-bucket verified pair explode over distinct-hash groups,
    # bucket key extended with the frame index (same-index frames only
    # compare to each other).
    buckets = (
        bands.groupBy("f", "band_id", "band_key")
        .agg(F.collect_list(F.struct("dhash", "ids")).alias("gs"))
        .filter(F.size("gs") > 1)
    )
    cross = (
        buckets.select(
            "f",
            F.explode(
                F.expr(
                    "flatten(transform(gs, a -> flatten("
                    "transform(filter(gs, b -> b.dhash > a.dhash AND "
                    f"bit_count(a.dhash ^ b.dhash) <= {MM6_HAMMING_MAX}), "
                    "b -> flatten(transform(a.ids, x -> "
                    "transform(b.ids, y -> struct("
                    "least(x, y) AS doc_id_a, greatest(x, y) AS doc_id_b"
                    "))))))))"
                )
            ).alias("p"),
        )
        .select("p.doc_id_a", "p.doc_id_b", "f")
        .distinct()  # a pair may collide in several bands of one frame
    )
    frame_matches = intra.unionByName(cross)
    return (
        frame_matches.groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("n_frames_matched"))
        .withColumn("is_dup", F.col("n_frames_matched") >= MM8_MIN_MATCH)
    )


# --- pp12: dataset datasheet ------------------------------------------------


def _pp12_duck_quality_micro() -> str:
    stop = (
        f"len(list_filter(string_split_regex(lower(trim(text)), "
        f"'{_TOKEN_SPLIT}'), tok -> list_contains({STOPWORDS['en']!r}, tok)))"
    )
    ntok = f"len(string_split_regex(lower(trim(text)), '{_TOKEN_SPLIT}'))"
    npun = "len(regexp_extract_all(text, '[.,;:!?]'))"
    return f"""CAST(FLOOR((
        (CAST({stop} AS DOUBLE) / {ntok}) * 0.5
        + (CASE WHEN {ntok} >= 20 AND {ntok} <= 1000 THEN 0.3 ELSE 0.0 END)
        + (CASE WHEN CAST({npun} AS DOUBLE) / length(text) < 0.1
                THEN 0.2 ELSE 0.0 END)) * 1000000) AS BIGINT)"""


@register(
    "pp12_dataset_datasheet",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, source, text,
                   CAST(len(string_split_regex(lower(trim(text)),
                        '{_TOKEN_SPLIT}')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   md5(text) AS th,
                   {_pp12_duck_quality_micro()} AS q_micro
            FROM documents
        )
        SELECT 'corpus' AS section, 'n_docs' AS key,
               CAST(COUNT(*) AS BIGINT) AS value FROM t
        UNION ALL
        SELECT 'corpus', 'total_tokens', CAST(SUM(n_tokens) AS BIGINT) FROM t
        UNION ALL
        SELECT 'corpus', 'total_chars', CAST(SUM(n_chars) AS BIGINT) FROM t
        UNION ALL
        SELECT 'length', 'min_tokens', CAST(MIN(n_tokens) AS BIGINT) FROM t
        UNION ALL
        SELECT 'length', 'max_tokens', CAST(MAX(n_tokens) AS BIGINT) FROM t
        UNION ALL
        SELECT 'dedup', 'exact_dup_docs',
               CAST(COUNT(*) - COUNT(DISTINCT th) AS BIGINT) FROM t
        UNION ALL
        SELECT 'quality', 'mean_quality_micro',
               CAST(SUM(q_micro) // COUNT(*) AS BIGINT) FROM t
        UNION ALL
        SELECT 'lang', lang, CAST(COUNT(*) AS BIGINT) FROM t GROUP BY lang
        UNION ALL
        SELECT 'source', source, CAST(COUNT(*) AS BIGINT) FROM t
        GROUP BY source
    """,
    doc="The DATASET DATASHEET — the stats table a released training "
    "corpus ships on its card (HF dataset cards, Datasheets for "
    "Datasets): corpus size in docs/tokens/chars, token-length extremes, "
    "exact-duplicate count (dd1's hash criterion), mean quality in "
    "integer micro-units (tx2's score, per-doc floored so the cross-row "
    "mean is order-insensitive and bitwise-stable), and per-lang / "
    "per-source composition — the number that feeds pp5's mixture "
    "decisions. One narrow (section, key, value) long-format artifact, "
    "BIGINT-exact throughout; all sections fold in ONE pass over the "
    "corpus (partial+final aggregates, the groupBys reuse the same "
    "scan), output bounded by #langs + #sources + 7 rows at any corpus "
    "size. Deeper diagnostics stay in their own operators (dd11's "
    "Jaccard deciles, pp7's contamination report, a18/a19 histograms) — "
    "this is the one-page summary those reports hang off.",
    tags=("pipeline", "llm", "report"),
)
def pp12_dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda tok: F.array_contains(stop_arr, tok))).cast(
            "double"
        )
        / n_tok
    )
    punct_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.,;:!?]"), 0)).cast(
            "double"
        )
        / F.length("text")
    )
    quality = (
        stop_ratio * 0.5
        + F.when((n_tok >= 20) & (n_tok <= 1000), 0.3).otherwise(0.0)
        + F.when(punct_ratio < 0.1, 0.2).otherwise(0.0)
    )
    t = d.select(
        "lang",
        "source",
        n_tok.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("th"),
        F.floor(quality * 1_000_000).cast("long").alias("q_micro"),
    ).persist()  # plan-cache

    def row(section: str, key, value) -> DataFrame:
        return F.lit(section).alias("section"), key, value

    corpus = t.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.countDistinct("th").alias("n_distinct"),
        F.sum("q_micro").alias("q_sum"),
    )
    def srow(section: str, key: str, value) -> F.Column:
        return F.struct(
            F.lit(section).alias("section"),
            F.lit(key).alias("key"),
            value.cast("long").alias("value"),
        )

    scalar_rows = corpus.select(
        F.explode(
            F.array(
                srow("corpus", "n_docs", F.col("n_docs")),
                srow("corpus", "total_tokens", F.col("total_tokens")),
                srow("corpus", "total_chars", F.col("total_chars")),
                srow("length", "min_tokens", F.col("min_tokens")),
                srow("length", "max_tokens", F.col("max_tokens")),
                srow(
                    "dedup",
                    "exact_dup_docs",
                    F.col("n_docs") - F.col("n_distinct"),
                ),
                srow("quality", "mean_quality_micro", F.expr("q_sum DIV n_docs")),
            )
        ).alias("r")
    ).select("r.section", "r.key", "r.value")
    by_lang = t.groupBy(F.col("lang").alias("key")).agg(
        F.count("*").alias("value")
    ).select(F.lit("lang").alias("section"), "key", "value")
    by_source = t.groupBy(F.col("source").alias("key")).agg(
        F.count("*").alias("value")
    ).select(F.lit("source").alias("section"), "key", "value")
    return scalar_rows.unionByName(by_lang).unionByName(by_source)


# --- pp13: temperature-sampled domain mixture -------------------------------

#: Mixture temperature tau = 1/2, i.e. weight ∝ n_tokens^(1/2) — realized
#: via SQRT, the one transcendental-free root: IEEE 754 requires sqrt to be
#: correctly rounded, so FLOOR(sqrt(n)*1e6) is bitwise identical on both
#: engines (unlike ln/pow, banned by the repo's determinism rules).
PP13_MICRO = 1_000_000
#: Token budget as a fraction of the corpus (1/1: re-mix the same total
#: token count across domains — upsampling small domains, downsampling
#: large ones).
PP13_BUDGET_NUM, PP13_BUDGET_DEN = 1, 1


@register(
    "pp13_temperature_mixture",
    oracle=f"""
        WITH per_source AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        w AS (
            SELECT *,
                   CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * {PP13_MICRO})
                        AS BIGINT) AS weight_micro
            FROM per_source
        ),
        tot AS (
            SELECT CAST(SUM(weight_micro) AS BIGINT) AS total_w,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM w
        )
        SELECT w.source, w.n_docs, w.n_tokens, w.weight_micro,
               (w.weight_micro * {PP13_MICRO}) // t.total_w AS share_ppm,
               (((t.total_tokens * {PP13_BUDGET_NUM})
                 // {PP13_BUDGET_DEN}) * w.weight_micro) // t.total_w
                   AS target_tokens,
               ((((t.total_tokens * {PP13_BUDGET_NUM})
                  // {PP13_BUDGET_DEN}) * w.weight_micro) // t.total_w
                * 1000) // w.n_tokens AS epochs_milli
        FROM w CROSS JOIN tot t
    """,
    doc="TEMPERATURE-sampled domain mixture plan — the LLaMA/Pile data "
    "recipe pp5's uniform-budget throttle doesn't cover: per-source "
    "sampling weight ∝ n_tokens^(1/2) (temperature tau = 1/2 flattens "
    "the natural distribution: small domains are upsampled, huge "
    "common-crawl-like domains damped). sqrt is the ONE root IEEE 754 "
    "requires to be correctly rounded, so FLOOR(sqrt·1e6) is engine-"
    "exact where ln/pow-based temperatures would not be; every "
    "downstream number (ppm shares, per-domain token targets, "
    "epochs-per-domain in milli-epochs — >1000 means the domain "
    "repeats, the thing a training run must KNOW to bound "
    "memorization) is pure BIGINT arithmetic. Scale: one corpus pass "
    "for per-source token counts, then all planning on the "
    "domain-count-sized frame — the plan table a 100 TB run ships to "
    "its data loader.",
    tags=("pipeline", "llm", "mixture", "planning"),
)
def pp13_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    per_source = d.select(
        "source", F.size(toks).cast("long").alias("n_toks")
    ).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    w = per_source.withColumn(
        "weight_micro",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * PP13_MICRO).cast(
            "long"
        ),
    )
    tot = w.agg(
        F.sum("weight_micro").alias("total_w"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    budget = f"(total_tokens * {PP13_BUDGET_NUM}) DIV {PP13_BUDGET_DEN}"
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "weight_micro",
        F.expr(f"(weight_micro * {PP13_MICRO}) DIV total_w").alias(
            "share_ppm"
        ),
        F.expr(f"({budget} * weight_micro) DIV total_w").alias(
            "target_tokens"
        ),
        F.expr(
            f"((({budget}) * weight_micro) DIV total_w * 1000) DIV n_tokens"
        ).alias("epochs_milli"),
    )


# --- pp14: corpus drift report ----------------------------------------------

#: Split convention shared with ann14: docs below 3/4 of max doc_id are
#: the REFERENCE corpus, the rest the INCOMING refresh.
PP14_NUM, PP14_DEN = 3, 4
#: Composition-shift alarm threshold: a source/lang whose share moves by
#: more than this many parts-per-million is flagged.
PP14_DRIFT_PPM = 50_000


@register(
    "pp14_corpus_drift_report",
    oracle=f"""
        WITH split AS (
            SELECT (MAX(doc_id) * {PP14_NUM}) // {PP14_DEN} AS t0
            FROM documents
        ),
        t AS (
            SELECT CASE WHEN doc_id < s.t0 THEN 'old' ELSE 'new' END
                       AS era,
                   source, lang,
                   CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                        AS BIGINT) AS n_toks
            FROM documents, split s
        ),
        era_tot AS (
            SELECT era, CAST(COUNT(*) AS BIGINT) AS n_docs_era
            FROM t GROUP BY era
        ),
        dims AS (
            SELECT 'source' AS section, source AS key, era,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS n_tokens
            FROM t GROUP BY source, era
            UNION ALL
            SELECT 'lang', lang, era, CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(n_toks) AS BIGINT)
            FROM t GROUP BY lang, era
        ),
        shares AS (
            SELECT d.section, d.key, d.era, d.n_docs, d.n_tokens,
                   (d.n_docs * 1000000) // e.n_docs_era AS share_ppm
            FROM dims d JOIN era_tot e USING (era)
        )
        SELECT o.section, o.key,
               o.n_docs AS n_docs_old,
               COALESCE(n.n_docs, 0) AS n_docs_new,
               o.n_tokens AS n_tokens_old,
               COALESCE(n.n_tokens, 0) AS n_tokens_new,
               o.share_ppm AS share_ppm_old,
               COALESCE(n.share_ppm, 0) AS share_ppm_new,
               ABS(COALESCE(n.share_ppm, 0) - o.share_ppm)
                   > {PP14_DRIFT_PPM} AS drifted
        FROM (SELECT * FROM shares WHERE era = 'old') o
        LEFT JOIN (SELECT * FROM shares WHERE era = 'new') n
          ON n.section = o.section AND n.key = o.key
    """,
    doc="CORPUS DRIFT report — ann14's drift-measurement shape applied "
    "to the documents pipeline (the data-drift check a corpus REFRESH "
    "runs before retraining anything): the reference slice (doc_id "
    f"below {PP14_NUM}/{PP14_DEN} of max — ann14's split convention) "
    "and the incoming slice are profiled per source and per lang "
    "(docs, tokens, composition share in exact ppm), and any "
    "dimension whose share moved more than "
    f"{PP14_DRIFT_PPM / 10000:.0f}% is flagged — the alarm that "
    "catches a scraper silently flipping domain mix or language "
    "balance between refreshes. All BIGINT arithmetic; one corpus "
    "pass, two group-bys on domain-count-sized frames. Reference-side "
    "dimensions drive the report (a dimension APPEARING only in the "
    "refresh shows via its era totals in pp12's datasheet; the drift "
    "row set is keyed to what the trained model already saw).",
    tags=("pipeline", "llm", "monitoring", "report"),
)
def pp14_corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    t0 = int(
        d.agg(F.expr(f"(MAX(doc_id) * {PP14_NUM}) DIV {PP14_DEN}")).first()[0]
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    t = d.select(
        F.when(F.col("doc_id") < t0, "old").otherwise("new").alias("era"),
        "source",
        "lang",
        F.size(toks).cast("long").alias("n_toks"),
    )
    era_tot = t.groupBy("era").agg(F.count("*").alias("n_docs_era"))
    dims = (
        t.groupBy(F.lit("source").alias("section"),
                  F.col("source").alias("key"), "era")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
        .unionByName(
            t.groupBy(F.lit("lang").alias("section"),
                      F.col("lang").alias("key"), "era")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_toks").alias("n_tokens"))
        )
    )
    shares = dims.join(F.broadcast(era_tot), "era").select(
        "section", "key", "era", "n_docs", "n_tokens",
        F.expr("(n_docs * 1000000) DIV n_docs_era").alias("share_ppm"),
    )
    o = shares.filter(F.col("era") == "old").drop("era")
    n = shares.filter(F.col("era") == "new").drop("era")
    n = n.select(
        F.col("section").alias("section"),
        F.col("key").alias("key"),
        F.col("n_docs").alias("n_docs_n"),
        F.col("n_tokens").alias("n_tokens_n"),
        F.col("share_ppm").alias("share_ppm_n"),
    )
    return o.join(F.broadcast(n), ["section", "key"], "left").select(
        "section",
        "key",
        F.col("n_docs").alias("n_docs_old"),
        F.coalesce("n_docs_n", F.lit(0)).alias("n_docs_new"),
        F.col("n_tokens").alias("n_tokens_old"),
        F.coalesce("n_tokens_n", F.lit(0)).alias("n_tokens_new"),
        F.col("share_ppm").alias("share_ppm_old"),
        F.coalesce("share_ppm_n", F.lit(0)).alias("share_ppm_new"),
        (
            F.abs(
                F.coalesce("share_ppm_n", F.lit(0)) - F.col("share_ppm")
            )
            > PP14_DRIFT_PPM
        ).alias("drifted"),
    )


# --- pp15: curation ablation grid -------------------------------------------

PP15_MICRO = 1_000_000


def _pp15_oracle() -> str:
    from apache_iceberg_spark.operators.text import (
        _TX19_DUCK_FEATURES,
        _duck_stop_count,
        _tx19_margin_sql,
    )

    # NOTE: _TX19_DUCK_FEATURES opens "WITH t AS (...), m AS (...)";
    # extend the same WITH chain.
    return f"""
        {_TX19_DUCK_FEATURES},
        q AS (
            SELECT doc_id, {_tx19_margin_sql()} > 0.0 AS keep_quality
            FROM m
        ),
        lid AS (
            SELECT doc_id,
                   CASE
                     WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
                     WHEN s_en >= s_de AND s_en > s_es AND s_en > s_fr THEN 'en'
                     WHEN s_es >= s_de AND s_es >= s_en AND s_es > s_fr THEN 'es'
                     ELSE 'fr'
                   END AS lang
            FROM (SELECT doc_id,
                         {_duck_stop_count('en')} AS s_en,
                         {_duck_stop_count('es')} AS s_es,
                         {_duck_stop_count('de')} AS s_de,
                         {_duck_stop_count('fr')} AS s_fr
                  FROM documents)
        ),
        dup AS (
            SELECT doc_id,
                   doc_id <> MIN(doc_id) OVER (
                       PARTITION BY md5(lower(trim(text)))) AS is_dup
            FROM documents
        ),
        per_doc AS (
            SELECT d.doc_id, lid.lang, q.keep_quality, dup.is_dup,
                   len(string_split_regex(lower(trim(d.text)), '{_TOKEN_SPLIT}'))
                       AS n_tokens
            FROM documents d
            JOIN lid USING (doc_id) JOIN q USING (doc_id)
            JOIN dup USING (doc_id)
        ),
        fine AS (
            SELECT lang, keep_quality, is_dup,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM per_doc GROUP BY lang, keep_quality, is_dup
        ),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM fine)
        SELECT COALESCE(lang, 'ALL') AS lang,
               COALESCE(CAST(keep_quality AS VARCHAR), 'ALL') AS keep_quality,
               COALESCE(CAST(is_dup AS VARCHAR), 'ALL') AS is_dup,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_tokens) AS BIGINT) * {PP15_MICRO} // tot.t
                   AS pct_tokens_micro
        FROM fine CROSS JOIN tot
        GROUP BY CUBE (lang, keep_quality, is_dup), tot.t
    """


@register(
    "pp15_curation_ablation_grid",
    oracle=_pp15_oracle(),
    doc="Curation what-if ablation grid: every (language × quality-keep × "
    "exact-dup) cell of the corpus with doc and token counts and exact "
    "token share (BIGINT micro-units), INCLUDING all CUBE marginals — "
    "the planning artifact for a 100 TB curation run ('dropping "
    "quality-fail non-dup German costs 1.2% of tokens'), composing "
    "tx3's langid, tx19's classifier, and dd1's canonical-hash dup "
    "flag into one frame. Scale shape: the per-doc flags are one "
    "map-only pass plus ONE window shuffle on the content hash; the "
    "corpus then collapses to ≤ |langs|·2·2 fine cells in a single "
    "partial+final agg, and the 8-way CUBE expansion runs over the "
    "tiny cell frame — never over corpus rows (the naive "
    "cube-over-docs plan shuffles every doc 8×).",
    tags=("pipeline", "llm", "report", "quality", "dedup"),
)
def pp15_curation_ablation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.operators.text import (
        _tokens,
        _tx19_features,
        _tx19_margin_sql,
        tx3_langid,
    )
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    q = (
        _tx19_features(d)
        .select("doc_id", (F.expr(_tx19_margin_sql()) > 0.0).alias("keep_quality"))
    )
    lid = tx3_langid(spark, sf_dir).select(
        "doc_id", F.col("lang_pred").alias("lang")
    )
    wdup = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    dup = d.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(wdup)).alias("is_dup"),
    )
    per_doc = (
        d.select("doc_id", F.size(_tokens()).alias("n_tokens"))
        .join(lid, "doc_id")
        .join(q, "doc_id")
        .join(dup, "doc_id")
    )
    fine = per_doc.groupBy("lang", "keep_quality", "is_dup").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    tot = fine.agg(F.sum("n_tokens").cast("long").alias("t"))
    # t is a scalar: carry it THROUGH the aggregate (F.max) instead of
    # cubing it — cubing the constant doubled the grouping sets to 16
    # and needed a load-bearing-looking isNotNull filter (r8 review).
    return (
        fine.crossJoin(F.broadcast(tot))
        .cube("lang", "keep_quality", "is_dup")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens_sum"),
            F.max("t").alias("t"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("keep_quality").cast("string"), F.lit("ALL")).alias(
                "keep_quality"
            ),
            F.coalesce(F.col("is_dup").cast("string"), F.lit("ALL")).alias(
                "is_dup"
            ),
            "n_docs",
            F.col("n_tokens_sum").alias("n_tokens"),
            F.expr(f"n_tokens_sum * {PP15_MICRO} DIV t").alias(
                "pct_tokens_micro"
            ),
        )
    )


# --- pp16: mixture rebalance plan --------------------------------------------

# Target language mixture in micro-units (sums to 1e6) — the knob a data
# lead sets; pinned here so the oracle shares it.
PP16_TARGET_MICRO = {"en": 400_000, "de": 250_000, "es": 200_000, "fr": 150_000}


def _pp16_oracle() -> str:
    from apache_iceberg_spark.operators.text import _duck_stop_count

    target_rows = ", ".join(
        f"('{lang}', {m})" for lang, m in sorted(PP16_TARGET_MICRO.items())
    )
    return f"""
        WITH lid AS (
            SELECT doc_id,
                   CASE
                     WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
                     WHEN s_en >= s_de AND s_en > s_es AND s_en > s_fr THEN 'en'
                     WHEN s_es >= s_de AND s_es >= s_en AND s_es > s_fr THEN 'es'
                     ELSE 'fr'
                   END AS lang
            FROM (SELECT doc_id,
                         {_duck_stop_count('en')} AS s_en,
                         {_duck_stop_count('es')} AS s_es,
                         {_duck_stop_count('de')} AS s_de,
                         {_duck_stop_count('fr')} AS s_fr
                  FROM documents)
        ),
        cur AS (
            SELECT lid.lang,
                   CAST(SUM(len(string_split_regex(lower(trim(d.text)),
                                                   '{_TOKEN_SPLIT}')))
                        AS BIGINT) AS cur_tokens
            FROM documents d JOIN lid USING (doc_id)
            GROUP BY lid.lang
        ),
        tgt(lang, target_micro) AS (VALUES {target_rows}),
        j AS (SELECT * FROM cur JOIN tgt USING (lang)),
        tot AS (SELECT CAST(SUM(cur_tokens) AS BIGINT) AS t FROM j),
        rate AS (
            SELECT l.lang,
                   CAST(MIN(
                       CAST(1000000 AS HUGEINT) * m.cur_tokens
                           * l.target_micro
                       // (CAST(m.target_micro AS HUGEINT) * l.cur_tokens)
                   ) AS BIGINT) AS keep_rate_micro
            FROM j l CROSS JOIN j m
            GROUP BY l.lang
        )
        SELECT j.lang, j.cur_tokens,
               CAST(CAST(j.cur_tokens AS HUGEINT) * 1000000 // tot.t
                    AS BIGINT) AS cur_share_micro,
               j.target_micro,
               r.keep_rate_micro,
               CAST(CAST(r.keep_rate_micro AS HUGEINT) * j.cur_tokens
                    // 1000000 AS BIGINT) AS post_tokens
        FROM j JOIN rate r USING (lang) CROSS JOIN tot
    """


@register(
    "pp16_mixture_rebalance_plan",
    oracle=_pp16_oracle(),
    doc="Mixture rebalance plan — HOW to hit a target language mix by "
    "downsampling only (no lang can be upsampled past its data): the "
    "exact keep rate per language is α·target_l/current_l with "
    "α = min_m current_m/target_m, computed WITHOUT the argmin or any "
    "rational sort via the pairwise identity rate_l = "
    "min_m (cur_m·target_l)/(target_m·cur_l) — floor commutes with min "
    "(monotone), the m=l term caps the binding language at exactly "
    "1e6, and every product runs in DECIMAL(38,0)/HUGEINT (the a24/a25 "
    "overflow rule). Applying the rates yields the target shares "
    "exactly (up to per-lang floor); pp13's temperature mixture says "
    "WHAT mix to want, pp14/a25 say when the current mix drifted, this "
    "says what to do about it. Scale: one corpus agg to |langs| rows, "
    "a |langs|² cross join, and a driver-size report.",
    tags=("pipeline", "llm", "report", "planning"),
)
def pp16_mixture_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.operators.text import _tokens, tx3_langid

    d = load_table(spark, sf_dir, "documents")
    lid = tx3_langid(spark, sf_dir).select(
        "doc_id", F.col("lang_pred").alias("lang")
    )
    cur = (
        d.select("doc_id", F.size(_tokens()).alias("n_tokens"))
        .join(lid, "doc_id")
        .groupBy("lang")
        .agg(F.sum("n_tokens").cast("long").alias("cur_tokens"))
    )
    tgt = F.broadcast(
        cur.sparkSession.createDataFrame(
            sorted(PP16_TARGET_MICRO.items()), "lang string, target_micro long"
        )
    )
    j = cur.join(tgt, "lang")
    tot = j.agg(F.sum("cur_tokens").cast("long").alias("t"))
    l = j.select(
        F.col("lang"),
        F.col("cur_tokens").alias("cur_l"),
        F.col("target_micro").alias("tgt_l"),
    )
    m = j.select(
        F.col("cur_tokens").alias("cur_m"), F.col("target_micro").alias("tgt_m")
    )
    rate = (
        l.crossJoin(F.broadcast(m))
        .select(
            "lang",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * cur_m * tgt_l "
                "DIV (CAST(tgt_m AS DECIMAL(38,0)) * cur_l) AS BIGINT)"
            ).alias("r"),
        )
        .groupBy("lang")
        .agg(F.min("r").alias("keep_rate_micro"))
    )
    return (
        j.join(rate, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "cur_tokens",
            F.expr(
                "CAST(CAST(cur_tokens AS DECIMAL(38,0)) * 1000000 DIV t "
                "AS BIGINT)"
            ).alias("cur_share_micro"),
            "target_micro",
            "keep_rate_micro",
            F.expr(
                "CAST(CAST(keep_rate_micro AS DECIMAL(38,0)) * cur_tokens "
                "DIV 1000000 AS BIGINT)"
            ).alias("post_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# dc2: fuzzy (MinHash) benchmark decontamination
# ---------------------------------------------------------------------------

#: Near-verbatim contamination threshold — the published fuzzy-decon
#: convention (Llama-2 / GPT-3 appendix C use high-similarity matches;
#: exact-overlap hygiene is dc1's 13-gram gate).
DC2_JACCARD = 0.8


def _dc2_oracle() -> str:
    from apache_iceberg_spark.operators.dedup import minhash_lsh_ctes

    return f"""
        WITH {minhash_lsh_ctes("documents")},
        s AS (
            SELECT doc_id,
                   CASE WHEN {_SPLIT_BUCKET_DUCK} < 80 THEN 'train'
                        WHEN {_SPLIT_BUCKET_DUCK} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ),
        cross_hits AS (
            SELECT CASE WHEN a.split = 'train' THEN v.doc_id_a
                        ELSE v.doc_id_b END AS doc_id,
                   CASE WHEN a.split = 'train' THEN v.doc_id_b
                        ELSE v.doc_id_a END AS test_doc_id,
                   v.jaccard
            FROM verified v
            JOIN s a ON a.doc_id = v.doc_id_a
            JOIN s b ON b.doc_id = v.doc_id_b
            WHERE ((a.split = 'train' AND b.split = 'test')
                   OR (a.split = 'test' AND b.split = 'train'))
              AND v.jaccard >= {DC2_JACCARD}
        )
        SELECT doc_id,
               COUNT(DISTINCT test_doc_id) AS n_test_matches,
               MAX(jaccard) AS max_jaccard
        FROM cross_hits
        GROUP BY doc_id
    """


@register(
    "dc2_fuzzy_decontamination",
    oracle=_dc2_oracle(),
    doc=f"FUZZY benchmark decontamination — dc1's exact {DECONTAM_N}-gram "
    "gate misses near-verbatim leaks (an edited sentence, shuffled "
    "whitespace); this is the MinHash form the published recipes pair "
    "with it: dd2's banded LSH generates train×test candidates and "
    f"exact-Jaccard verification at {DC2_JACCARD} flags training docs "
    "to drop. Spark shape: ONE signature build over the corpus "
    "(split is a pure function of doc_id, so train/test band frames "
    "are FILTERS of the same map-only band build, not two pipelines); "
    "candidates come from a train-band × test-band equi-join on "
    "(band_id, band_key) — O(colliding bands), never |train|×|test| — "
    "and only candidates pay the exact verify. No broadcast hint: the "
    "test side's size is corpus-dependent (dc1's r3 lesson), so the "
    "join strategy is AQE's runtime call. Scale: identical to dd2 — "
    "band build is map-only, the band join is the single wide "
    "exchange, hot bands cap/salt the same way.",
    tags=("dedup", "llm", "decontamination"),
)
def dc2_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_iceberg_spark.operators.dedup import _minhash_bands

    d = load_table_parallel(spark, sf_dir, "documents")

    def _split_of(col: str) -> F.Column:
        b = (
            F.expr(
                SPARK_HEX2INT.format(s=f"concat('split:', CAST({col} AS STRING))")
            )
            % 100
        )
        return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")

    hashed, bands = _minhash_bands(d)
    train_b = bands.filter(_split_of("doc_id") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "band_id", "band_key"
    )
    test_b = bands.filter(_split_of("doc_id") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "band_id", "band_key"
    )
    cand = (
        train_b.join(test_b, ["band_id", "band_key"])
        .select("train_doc_id", "test_doc_id")
        .distinct()
    )
    sa = hashed.select(
        F.col("doc_id").alias("train_doc_id"), F.col("hs").alias("hs_a")
    )
    sb = hashed.select(
        F.col("doc_id").alias("test_doc_id"), F.col("hs").alias("hs_b")
    )
    return (
        cand.join(sa, "train_doc_id")
        .join(sb, "test_doc_id")
        .select(
            "train_doc_id",
            "test_doc_id",
            (
                F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
                / F.size(F.array_union("hs_a", "hs_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= DC2_JACCARD)
        .groupBy(F.col("train_doc_id").alias("doc_id"))
        .agg(
            F.countDistinct("test_doc_id").alias("n_test_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# pp17: DSIR-style importance resampling (round 9)
# ---------------------------------------------------------------------------

PP17_BUCKETS = 1024  # hashed-unigram feature space (DSIR's hashed n-grams)
PP17_TARGET = ("src1", "src2")  # the target-domain sources
PP17_CAP_X = 4  # keep probability = min(1, score / (CAP_X * mean score))

_PP17_DUCK_TOK = DUCK_HEX2INT.format(
    s=r"unnest(string_split_regex(lower(trim(text)), '\s+'))"
)
_PP17_DUCK_SEL = DUCK_HEX2INT.format(
    s="concat('pp17:', CAST(doc_id AS VARCHAR))"
)


@register(
    "pp17_importance_resampling",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source,
                   {_PP17_DUCK_TOK} % {PP17_BUCKETS} AS b
            FROM documents
        ),
        tgt AS (
            SELECT b, COUNT(*) AS ct FROM w
            WHERE source IN {PP17_TARGET} GROUP BY b
        ),
        raw AS (SELECT b, COUNT(*) AS cr FROM w GROUP BY b),
        scale AS (
            SELECT (SELECT COUNT(*) FROM w) * 1000000
                       // (SELECT COUNT(*) FROM w
                           WHERE source IN {PP17_TARGET}) AS sc
        ),
        ratio AS (
            SELECT r.b,
                   (COALESCE(t.ct, 0) + 1) * scale.sc // (r.cr + 1)
                       AS r_micro
            FROM raw r LEFT JOIN tgt t USING (b), scale
        ),
        scored AS (
            SELECT w.doc_id, MIN(w.source) AS source,
                   CAST(SUM(ratio.r_micro) // COUNT(*) AS BIGINT)
                       AS score_micro
            FROM w JOIN ratio USING (b)
            GROUP BY w.doc_id
        ),
        g AS (
            SELECT CAST((
                {PP17_CAP_X} * SUM(score_micro)) // COUNT(*) AS BIGINT
            ) AS denom FROM scored
        )
        SELECT doc_id, source, score_micro,
               CAST(LEAST(1000000,
                    score_micro * 1000000 // g.denom) AS BIGINT)
                   AS p_keep_micro,
               {_PP17_DUCK_SEL} % 1000000
                   < LEAST(1000000, score_micro * 1000000 // g.denom)
                   AS selected
        FROM scored, g
    """,
    doc=f"DSIR-style data selection via importance resampling (Xie et "
    "al. 2023): docs are scored by a hashed-unigram likelihood ratio "
    "against a target domain and kept with probability proportional "
    "to the ratio — HOW the published pipelines tilt a raw crawl "
    f"toward a target distribution. Log-free, like tx16: words hash "
    f"into {PP17_BUCKETS} buckets (DSIR's hashed n-grams), each "
    "bucket carries an EXACT integer micro-ratio (target+1)/(raw+1) "
    "cross-multiplied by the corpus/target token totals (Laplace "
    "smoothing, no floats), and a doc's score is the mean per-token "
    "ratio via integer DIV — the arithmetic-mean surrogate for "
    "DSIR's log-likelihood sum, the same published deviation tx16 "
    "documents (cross-engine libm logs differ in the last ulp). "
    "Selection is DETERMINISTIC importance sampling: keep iff "
    "hash(doc) mod 1e6 < min(1e6, score/(4·mean)) — a10/pp5's "
    "seeded-hash convention, map-only after ONE scalar aggregate, no "
    "global sort or rank anywhere; every quantity is intensive so "
    "the integer bounds hold at any corpus size. Scale shape: the "
    "ratio table is {PP17_BUCKETS} rows broadcast; scoring is one "
    "corpus pass + per-doc fold.",
    tags=("pipeline", "llm", "sampling", "quality"),
)
def pp17_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    w = d.select(
        "doc_id",
        "source",
        F.explode(toks).alias("tok"),
    ).select(
        "doc_id",
        "source",
        (F.expr(SPARK_HEX2INT.format(s="tok")) % PP17_BUCKETS).alias("b"),
    ).persist()  # plan-cache: three consumers in the RETURNED plan (the
    # totals collect, tgt/raw bucket counts, and the scoring join) — the
    # caller releases via release_plan_caches once materialized; an
    # in-function unpersist here would make execution re-run the corpus
    # tokenize+hash pass three times (round-9 self-review)

    is_tgt = F.col("source").isin(*PP17_TARGET)
    totals = w.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(is_tgt.cast("long")).alias("n_tgt"),
    ).collect()[0]
    n_all, n_tgt = int(totals["n_all"]), int(totals["n_tgt"])
    if n_tgt == 0:
        w.unpersist()
        raise ValueError(
            "pp17_importance_resampling: corpus has no tokens from the "
            f"target domains {sorted(PP17_TARGET)} — the importance "
            "ratio (target/raw unigram likelihood) is undefined with "
            "an empty target sample (ADVICE r9: fail loud, not "
            "ZeroDivisionError)"
        )

    tgt = w.filter(is_tgt).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    raw = w.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    scale = (n_all * 1_000_000) // n_tgt  # exact integer scalar
    ratio = (
        raw.join(tgt, "b", "left")
        .select(
            "b",
            F.expr(
                f"(coalesce(ct, CAST(0 AS BIGINT)) + 1) * {scale}L "
                "DIV (cr + 1)"
            ).alias("r_micro"),
        )
    )
    scored = (
        w.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.expr("SUM(r_micro) DIV COUNT(*)").alias("score_micro"),
        )
    )
    g = scored.agg(
        F.expr(f"{PP17_CAP_X} * SUM(score_micro) DIV COUNT(*)").alias("denom")
    )
    p = F.least(
        F.lit(1_000_000).cast("long"),
        F.expr("score_micro * 1000000 DIV denom"),
    )
    h = (
        F.expr(
            SPARK_HEX2INT.format(s="concat('pp17:', CAST(doc_id AS STRING))")
        )
        % 1_000_000
    )
    return scored.crossJoin(F.broadcast(g)).select(
        "doc_id",
        "source",
        F.col("score_micro").cast("long").alias("score_micro"),
        p.cast("long").alias("p_keep_micro"),
        (h < p).alias("selected"),
    )


# ---------------------------------------------------------------------------
# pp18: packing-efficiency report — choosing the sequence length
# ---------------------------------------------------------------------------

PP18_LENGTHS = (256, 512, 1024)


@register(
    "pp18_packing_efficiency",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_toks
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_toks,
                   CAST(SUM(n_toks) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_toks AS BIGINT) AS st
            FROM t
        ),
        ls(l) AS (VALUES {", ".join(f"({L})" for L in PP18_LENGTHS)}),
        g AS (
            SELECT CAST(SUM(n_toks) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM t
        ),
        per AS (
            SELECT l,
                   CAST(SUM(CASE WHEN n_toks > 0
                            AND (st + n_toks - 1) // l > st // l
                            THEN 1 ELSE 0 END) AS BIGINT) AS crossing
            FROM c CROSS JOIN ls GROUP BY l
        )
        SELECT CAST(l AS BIGINT) AS seq_len,
               CAST((total + l - 1) // l AS BIGINT) AS n_sequences,
               total AS total_tokens,
               CAST((total + l - 1) // l * l - total AS BIGINT)
                   AS tail_pad_tokens,
               crossing AS crossing_docs,
               CAST(crossing * 1000000 // n_docs AS BIGINT)
                   AS crossing_ppm
        FROM per CROSS JOIN g
    """,
    doc=f"PACKING-EFFICIENCY report across candidate sequence lengths "
    f"{PP18_LENGTHS} — the table a pretraining-pipeline owner reads "
    "before fixing the context window: stream packing (pp2/pp2b's "
    "concat-and-chunk) wastes only the tail pad, but every document "
    "that CROSSES a sequence boundary needs attention-mask surgery in "
    "the loader (mm10's split-image diagnostic is the multimodal "
    "special case) — longer windows mean fewer sequences but more "
    "crossing docs per sequence, and this report quantifies the trade "
    "with exact integers: sequences = ceil(total/L), tail pad, and "
    "the crossing count from each doc's [start, start+len) interval "
    "against the L-grid, all off pp2's distributed two-level prefix "
    "sum (two shuffles + one broadcast at ANY corpus size; the per-L "
    "fan-out is a broadcast 3-row crossJoin over the same frame).",
    tags=("pipeline", "llm", "packing"),
)
def pp18_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _pp2_start_frame(spark, sf_dir).persist()  # plan-cache: the
    # global aggregate and the per-L crossing scan both consume it
    g = s.agg(
        F.sum("n_toks").alias("total"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    ls = spark.createDataFrame([(L,) for L in PP18_LENGTHS], "l long")
    per = (
        s.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.sum(
                F.when(
                    (F.col("n_toks") > 0)
                    & (
                        F.expr("(start + n_toks - 1) DIV l")
                        > F.expr("start DIV l")
                    ),
                    1,
                ).otherwise(0)
            ).alias("crossing")
        )
    )
    return per.crossJoin(F.broadcast(g)).select(
        F.col("l").alias("seq_len"),
        F.expr("(total + l - 1) DIV l").alias("n_sequences"),
        F.col("total").alias("total_tokens"),
        F.expr("(total + l - 1) DIV l * l - total").alias(
            "tail_pad_tokens"
        ),
        F.col("crossing").alias("crossing_docs"),
        F.expr("crossing * 1000000 DIV n_docs").alias("crossing_ppm"),
    )


# --- pp19: data-mixture sampling weights ---------------------------------------

PP19_MICRO = 1_000_000
PP19_MAX_EPOCHS_MILLI = 3_000  # upsampling cap: 3.0 epochs per domain


@register(
    "pp19_mixture_weights",
    oracle=f"""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len(string_split_regex(lower(trim(text)),
                        '{_TOKEN_SPLIT}'))) AS BIGINT) AS domain_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(domain_tokens) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM per
        )
        SELECT source, n_docs, domain_tokens,
               CAST(CAST(domain_tokens AS HUGEINT) * {PP19_MICRO}
                    // tot.total AS BIGINT) AS share_ppm,
               CAST(least(
                   CAST(tot.total * {PP19_MICRO} AS HUGEINT)
                       // (tot.k * domain_tokens),
                   {PP19_MAX_EPOCHS_MILLI} * 1000
               ) AS BIGINT) AS weight_micro,
               CAST(least(
                   CAST(tot.total * {PP19_MICRO} AS HUGEINT)
                       // (tot.k * domain_tokens),
                   {PP19_MAX_EPOCHS_MILLI} * 1000
               ) * domain_tokens // 1000000 AS BIGINT)
                   AS effective_tokens
        FROM per CROSS JOIN tot
        ORDER BY source
    """,
    doc="Data-mixture weighting — the step between corpus stats and a "
    "training run: given per-domain token counts and a TARGET mixture "
    "(uniform across domains here, the general case is one broadcast "
    "map away), emit each domain's sampling weight = target_share / "
    "actual_share, capped at {PP19_MAX_EPOCHS_MILLI}/1000 epochs so a "
    "tiny domain is not repeated into memorization (the Pile/Dolma-"
    "style epoch cap), plus the effective post-mixing token budget the "
    "cap implies. All exact integer micro-units: weight_micro DIVs "
    "HUGEINT cross-products (order-insensitive, engine-identical), so "
    "the hash pins the actual mixing math, not a float echo. Spark "
    "shape: ONE map-side-combined groupBy(source) over the corpus — "
    "the 100 TB cost is the token count the pipeline already computes "
    "— then a k-row broadcast of the totals; the weights frame itself "
    "is the broadcast-join input a sampler (pp13/pp17) consumes.",
    tags=("pipeline", "llm", "sampling"),
)
def pp19_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    per = d.groupBy("source").agg(
        F.sum(F.size(toks)).cast("long").alias("domain_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    ).persist()  # plan-cache: |domains| rows feed the totals AND the
    # weights join — unpersisted, each consumer re-tokenizes the corpus
    tot = per.agg(
        F.sum("domain_tokens").alias("total"),
        F.count(F.lit(1)).alias("k"),
    )
    w = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "domain_tokens",
        # DECIMAL cross-multiply: a 100 TB corpus's token count times
        # 1e6 overflows BIGINT
        F.expr(
            f"CAST(CAST(domain_tokens AS DECIMAL(38,0)) * {PP19_MICRO} "
            "DIV total AS BIGINT)"
        ).alias("share_ppm"),
        F.expr(
            f"least(CAST(total AS DECIMAL(38,0)) * {PP19_MICRO} "
            f"DIV (k * domain_tokens), "
            f"{PP19_MAX_EPOCHS_MILLI} * 1000)"
        ).cast("long").alias("weight_micro"),
    )
    return w.select(
        "source",
        "n_docs",
        "domain_tokens",
        "share_ppm",
        "weight_micro",
        F.expr(
            "CAST(CAST(weight_micro AS DECIMAL(38,0)) * domain_tokens "
            "DIV 1000000 AS BIGINT)"
        ).alias("effective_tokens"),
    ).orderBy("source")


# --- tx24: Zipf-law fit over the corpus vocabulary ------------------------------

TX24_TOP_K = 500
TX24_MICRO = 1_000_000

# OLS slope/r^2 from exact integer micro-unit sums — the one shared
# float formula applied to order-insensitive inputs (a21's recipe): x =
# ln(rank)*1e6, y = ln(freq)*1e6, per-row float then integer sums.
_TX24_SLOPE = (
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
    "/ (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
)
_TX24_R2 = (
    "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
    "* (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) "
    "/ ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) "
    "* (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
)


@register(
    "tx24_zipf_fit",
    oracle=f"""
        WITH toks AS (
            SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
        ),
        top AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
                       AS rank
            FROM toks GROUP BY tok
            ORDER BY cnt DESC, tok
            LIMIT {TX24_TOP_K}
        ),
        xy AS (
            SELECT CAST(ROUND(ln(rank) * {TX24_MICRO}) AS BIGINT) AS x,
                   CAST(ROUND(ln(cnt) * {TX24_MICRO}) AS BIGINT) AS y
            FROM top
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
            FROM xy
        )
        SELECT n, sx, sy,
               -({_TX24_SLOPE}) AS zipf_exponent,
               {_TX24_R2} AS r_squared
        FROM s
    """,
    doc=f"Zipf-law fit — the corpus-health scalar: OLS of ln(freq) on "
    f"ln(rank) over the top-{TX24_TOP_K} vocabulary terms gives the "
    "Zipf exponent (natural text ~1.0; boilerplate/spam-heavy or "
    "synthetic corpora drift far off) and the fit r² (how Zipfian the "
    "corpus is at all) — the one-number screen corpus curation runs "
    "before/after a filter pass to check it didn't distort the "
    "distribution. Exactness recipe: ln() is PER-ROW float snapped to "
    "integer micro-units, all cross-row sums are exact BIGINT/HUGEINT "
    "(order-insensitive), and the slope/r² float formulas are shared "
    "textually — the hash pins the regression, not an echo. Spark "
    "shape: one token-count shuffle with map-side partials, a "
    "TakeOrdered top-K (the full vocabulary never sorts globally), "
    "then a 500-row window + aggregate — at 100 TB the only heavy op "
    "is the count the pipeline computes anyway (tx10's plan).",
    tags=("text", "llm", "corpus", "statistics"),
)
def tx24_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(TX24_TOP_K)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    xy = top.select(
        F.round(F.log(F.row_number().over(w)) * TX24_MICRO)
        .cast("long")
        .alias("x"),
        F.round(F.log("cnt") * TX24_MICRO).cast("long").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y"))
        .cast("double")
        .alias("syy"),
    )
    return s.select(
        "n",
        "sx",
        "sy",
        F.expr(f"-({_TX24_SLOPE})").alias("zipf_exponent"),
        F.expr(_TX24_R2).alias("r_squared"),
    )


# --- pp20: output-shard planner -------------------------------------------------

PP20_SHARD_BYTES = 65_536
PP20_MICRO = 1_000_000


@register(
    "pp20_shard_planner",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS b
            FROM documents
        ),
        c AS (
            SELECT doc_id, b,
                   CAST(SUM(b) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - b AS BIGINT) AS st
            FROM t
        ),
        assigned AS (
            SELECT doc_id, b, st,
                   st // {PP20_SHARD_BYTES} AS shard_id,
                   CASE WHEN b > 0 AND (st + b - 1) // {PP20_SHARD_BYTES}
                             > st // {PP20_SHARD_BYTES}
                        THEN 1 ELSE 0 END AS crossing
            FROM c
        )
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(SUM(b) AS BIGINT) AS shard_bytes,
               CAST(CAST(SUM(b) AS HUGEINT) * {PP20_MICRO}
                    // {PP20_SHARD_BYTES} AS BIGINT) AS fill_ppm,
               CAST(SUM(crossing) AS BIGINT) AS crossing_docs
        FROM assigned
        GROUP BY shard_id
        ORDER BY shard_id
    """,
    doc=f"Output-shard planner — the writer-side twin of pp2's packing: "
    "concatenate the corpus in doc_id order and plan "
    f"{PP20_SHARD_BYTES}-byte output shards (the webdataset/tar-shard "
    "layout every pretraining data release ships), assigning each "
    "document to the shard its first byte lands in. The report per "
    "shard — doc count, first doc (the shard's seek key), actual "
    "bytes, fill ratio in ppm, and boundary-crossing docs (candidates "
    "for shard-local padding or split) — is what the export job reads "
    "to decide shard count and whether the size distribution needs "
    "rebalancing (a27's range-bounds cousin on cumulative bytes). "
    "Spark shape: pp2's two-level DISTRIBUTED prefix sum (within-"
    "bucket windows in parallel + a tiny bucket-prefix broadcast — "
    "two shuffles at any corpus size, never one global ordered "
    "window), then one map-side-combined groupBy(shard_id). All "
    "exact integers; fill_ppm crosses through HUGEINT/DECIMAL.",
    tags=("pipeline", "llm", "packing", "export"),
)
def pp20_shard_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.length("text").cast("long").alias("b"),
        (F.col("doc_id") / PACK_BUCKET_WIDTH).cast("long").alias("bucket"),
    )
    within = F.sum("b").over(
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_doc = t.withColumn("within_cum", within)
    btot = t.groupBy("bucket").agg(F.sum("b").alias("btot"))
    bprefix = btot.select(
        "bucket",
        F.coalesce(
            F.sum("btot").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("bprefix"),
    )
    assigned = per_doc.join(F.broadcast(bprefix), "bucket").select(
        "doc_id",
        "b",
        (
            F.col("within_cum") + F.col("bprefix") - F.col("b")
        ).alias("st"),
    ).select(
        "doc_id",
        "b",
        F.expr(f"st DIV {PP20_SHARD_BYTES}").alias("shard_id"),
        F.when(
            (F.col("b") > 0)
            & (
                F.expr(f"(st + b - 1) DIV {PP20_SHARD_BYTES}")
                > F.expr(f"st DIV {PP20_SHARD_BYTES}")
            ),
            1,
        ).otherwise(0).alias("crossing"),
    )
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sum("b").alias("shard_bytes"),
            F.sum("crossing").alias("crossing_docs"),
        )
        .select(
            "shard_id",
            "n_docs",
            "first_doc",
            "shard_bytes",
            F.expr(
                f"CAST(CAST(shard_bytes AS DECIMAL(38,0)) * {PP20_MICRO} "
                f"DIV {PP20_SHARD_BYTES} AS BIGINT)"
            ).alias("fill_ppm"),
            "crossing_docs",
        )
        .orderBy("shard_id")
    )


# --- mm11: aspect-ratio bucketing report (VLM/diffusion batch planning) ---------

#: The SDXL-style resolution ladder: aspect buckets a multimodal
#: training job groups images into so a batch shares one shape and
#: aspect-preserving resize wastes minimal padding.
MM11_BUCKETS = [
    (1024, 1024), (1152, 896), (896, 1152), (1216, 832), (832, 1216),
    (1344, 768), (768, 1344), (1536, 640), (640, 1536),
]
MM11_MICRO = 1_000_000


def _mm11_best_expr(div: str) -> str:
    """argmin over the bucket ladder of the exact-integer aspect
    mismatch |w*bh - h*bw| * 1e6 DIV (bw*bh), encoded as score*16+idx
    so LEAST() resolves ties to the smaller index — one shared
    expression text for both engines (only the integer-div token
    differs)."""
    encs = [
        f"(ABS(CAST(w AS BIGINT) * {bh} - CAST(h AS BIGINT) * {bw}) "
        f"* {MM11_MICRO} {div} ({bw} * {bh})) * 16 + {i}"
        for i, (bw, bh) in enumerate(MM11_BUCKETS)
    ]
    return "LEAST(" + ", ".join(encs) + ")"


@register(
    "mm11_aspect_bucket_report",
    oracle=f"""
        WITH img AS (
            SELECT doc_id,
                   128 * (4 + ascii(substr(text, 1, 1)) % 13) AS w,
                   128 * (4 + ascii(substr(text, 2, 1)) % 13) AS h
            FROM documents WHERE length(text) >= 2
        ),
        best AS (
            SELECT doc_id, w, h,
                   {_mm11_best_expr('//')} AS enc
            FROM img
        )
        SELECT CAST(enc % 16 AS BIGINT) AS bucket_idx,
               CAST(COUNT(*) AS BIGINT) AS n_images,
               CAST(SUM(enc // 16) // COUNT(*) AS BIGINT)
                   AS avg_mismatch_ppm,
               CAST(SUM(CAST(w AS HUGEINT) * h) AS BIGINT)
                   AS total_src_pixels
        FROM best
        GROUP BY bucket_idx
        ORDER BY bucket_idx
    """,
    doc="Aspect-ratio BUCKETING report — the batch-planning step every "
    "VLM/diffusion training pipeline runs (the SDXL multi-resolution "
    "recipe): each image goes to the ladder bucket minimizing the "
    "aspect mismatch, so a batch shares one shape and the aspect-"
    "preserving resize pads minimally. Dimensions here derive "
    "deterministically from the opaque payload's leading bytes (the "
    "mm-family convention — a real pipeline reads actual "
    "width/height from image headers with the identical Spark "
    "shape), and the assignment is EXACT integer math: mismatch = "
    "|w*bh - h*bw|*1e6 DIV (bw*bh), argmin via a LEAST() over "
    "score*16+idx encodings (ties to the smaller bucket index) — no "
    "floats, trivially stable hash. The report (images per bucket, "
    "average residual mismatch, source pixels) is what decides batch "
    "group sizes and whether the ladder needs more buckets. Map-only "
    "expression tree + ONE map-side-combined groupBy over 9 buckets "
    "— at 100 TB this is scan-bandwidth work with a 9-row result.",
    tags=("multimodal", "llm", "pipeline"),
)
def mm11_aspect_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    img = d.filter(F.length("text") >= 2).select(
        "doc_id",
        F.expr("128 * (4 + ascii(substr(text, 1, 1)) % 13)").alias("w"),
        F.expr("128 * (4 + ascii(substr(text, 2, 1)) % 13)").alias("h"),
    )
    best = img.select(
        "w", "h", F.expr(_mm11_best_expr("DIV")).alias("enc")
    )
    return (
        best.groupBy(F.expr("enc % 16").cast("long").alias("bucket_idx"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.expr("CAST(SUM(enc DIV 16) DIV COUNT(*) AS BIGINT)").alias(
                "avg_mismatch_ppm"
            ),
            F.expr(
                "CAST(SUM(CAST(w AS DECIMAL(38,0)) * h) AS BIGINT)"
            ).alias("total_src_pixels"),
        )
        .orderBy("bucket_idx")
    )


# --- mm12: letterbox/pad geometry report (round 12) ----------------------------

# Aspect-preserving fit of (w, h) into its mm11 bucket, exact integers:
# the binding side is decided by the cross-product compare w*bh vs h*bw
# (no ratios), the scaled short side is one integer DIV (operands
# non-negative, so Spark DIV and DuckDB // agree), and the pad is the
# bucket remainder on that axis.
_MM12_NEW_W = "CASE WHEN w * bh >= h * bw THEN bw ELSE (w * bh) {div} h END"
_MM12_NEW_H = "CASE WHEN w * bh >= h * bw THEN (h * bw) {div} w ELSE bh END"


@register(
    "mm12_letterbox_pad_report",
    oracle=f"""
        WITH img AS (
            SELECT 128 * (4 + ascii(substr(text, 1, 1)) % 13) AS w,
                   128 * (4 + ascii(substr(text, 2, 1)) % 13) AS h
            FROM documents WHERE length(text) >= 2
        ),
        enc AS (
            SELECT w, h, {_mm11_best_expr('//')} AS e FROM img
        ),
        geo AS (
            SELECT e % 16 AS bucket_idx, w, h,
                   CASE e % 16
                       {" ".join(f"WHEN {i} THEN {bw}" for i, (bw, bh) in enumerate(MM11_BUCKETS))}
                   END AS bw,
                   CASE e % 16
                       {" ".join(f"WHEN {i} THEN {bh}" for i, (bw, bh) in enumerate(MM11_BUCKETS))}
                   END AS bh
            FROM enc
        ),
        fit AS (
            SELECT bucket_idx, bw, bh,
                   {_MM12_NEW_W.format(div='//')} AS new_w,
                   {_MM12_NEW_H.format(div='//')} AS new_h
            FROM geo
        )
        SELECT CAST(bucket_idx AS BIGINT) AS bucket_idx,
               CAST(COUNT(*) AS BIGINT) AS n_images,
               CAST(SUM(CAST(bw AS HUGEINT) * bh - CAST(new_w AS HUGEINT)
                        * new_h) AS BIGINT) AS total_pad_pixels,
               CAST(SUM(CAST(bw AS HUGEINT) * bh - CAST(new_w AS HUGEINT)
                        * new_h) * {MM11_MICRO}
                    // SUM(CAST(bw AS HUGEINT) * bh) AS BIGINT)
                   AS pad_ppm
        FROM fit
        GROUP BY bucket_idx
        ORDER BY bucket_idx
    """,
    doc="Letterbox/pad geometry report — mm11's second half: mm11 "
    "CHOOSES each image's aspect bucket; this prices what the choice "
    "COSTS, computing the aspect-preserving fit of every image into "
    "its bucket (binding side by exact cross-product compare w*bh vs "
    "h*bw — no ratio floats; the scaled short side is one integer DIV "
    "of non-negative operands, where Spark's truncation and DuckDB's "
    "floor agree) and aggregating per bucket the padded-pixel count "
    "and the pad fraction in ppm of bucket area — the number a "
    "VLM/diffusion data planner watches, because padding is compute "
    "burned on masked tokens. Exact integers end to end; DECIMAL/"
    "HUGEINT pixel sums (1e12 images x ~1.5e6 px needs int128). Scale "
    "shape: map-only geometry (the bucket ladder is a 9-case literal "
    "in the expression — no join) plus ONE map-side-combined 9-row "
    "groupBy; at 100 TB this is scan bandwidth with a 9-row result, "
    "same as mm11.",
    tags=("multimodal", "llm", "pipeline"),
)
def mm12_letterbox_pad_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    img = d.filter(F.length("text") >= 2).select(
        F.expr("128 * (4 + ascii(substr(text, 1, 1)) % 13)").alias("w"),
        F.expr("128 * (4 + ascii(substr(text, 2, 1)) % 13)").alias("h"),
    )
    enc = img.select("w", "h", F.expr(_mm11_best_expr("DIV")).alias("e"))
    bw_case = "CASE e % 16 " + " ".join(
        f"WHEN {i} THEN {bw}" for i, (bw, bh) in enumerate(MM11_BUCKETS)
    ) + " END"
    bh_case = "CASE e % 16 " + " ".join(
        f"WHEN {i} THEN {bh}" for i, (bw, bh) in enumerate(MM11_BUCKETS)
    ) + " END"
    geo = enc.select(
        F.expr("e % 16").alias("bucket_idx"),
        "w",
        "h",
        F.expr(bw_case).alias("bw"),
        F.expr(bh_case).alias("bh"),
    )
    fit = geo.select(
        "bucket_idx",
        "bw",
        "bh",
        F.expr(_MM12_NEW_W.format(div="DIV")).alias("new_w"),
        F.expr(_MM12_NEW_H.format(div="DIV")).alias("new_h"),
    )
    return (
        fit.groupBy(F.col("bucket_idx").cast("long").alias("bucket_idx"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum(
                F.expr(
                    "CAST(bw AS DECIMAL(38,0)) * bh "
                    "- CAST(new_w AS DECIMAL(38,0)) * new_h"
                )
            ).alias("pad_dec"),
            F.sum(F.expr("CAST(bw AS DECIMAL(38,0)) * bh")).alias("area_dec"),
        )
        .select(
            "bucket_idx",
            "n_images",
            F.expr("CAST(pad_dec AS BIGINT)").alias("total_pad_pixels"),
            F.expr(
                f"CAST(pad_dec * {MM11_MICRO} DIV area_dec AS BIGINT)"
            ).alias("pad_ppm"),
        )
        .orderBy("bucket_idx")
    )


# --- tx26: Shannon token entropy per language -----------------------------------

TX26_MICRO = 1_000_000

# ln() quantized per-row to integer micro-nats (tx24's recipe, proven
# safe for integer arguments in g12): every cross-row sum is exact.
_TX26_LNC = f"CAST(ROUND(ln(cnt) * {TX26_MICRO}) AS BIGINT)"


@register(
    "tx26_token_entropy",
    oracle=f"""
        WITH toks AS (
            SELECT lang, unnest({_DUCK_TOKS}) AS tok FROM documents
        ),
        counts AS (
            SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks GROUP BY 1, 2
        ),
        s AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS vocab,
                   CAST(SUM(cnt) AS BIGINT) AS n,
                   SUM(CAST(cnt AS HUGEINT) * {_TX26_LNC}) AS slnc
            FROM counts GROUP BY lang
        )
        SELECT lang,
               n AS n_tokens,
               vocab,
               CAST((CAST(n AS HUGEINT)
                     * CAST(ROUND(ln(n) * {TX26_MICRO}) AS BIGINT)
                     - slnc) // n AS BIGINT) AS entropy_micro_nats,
               CAST(CASE WHEN vocab > 1 THEN
                   ((CAST(n AS HUGEINT)
                     * CAST(ROUND(ln(n) * {TX26_MICRO}) AS BIGINT)
                     - slnc) // n) * {TX26_MICRO}
                   // CAST(ROUND(ln(vocab) * {TX26_MICRO}) AS BIGINT)
               ELSE 0 END AS BIGINT) AS efficiency_ppm
        FROM s
        ORDER BY lang
    """,
    doc="Shannon entropy of the token distribution per language, in "
    "exact integer micro-nats — the compression-floor / diversity "
    "scalar corpus curation tracks next to tx24's Zipf exponent (an "
    "entropy drop after a filter pass means the pass collapsed the "
    "vocabulary onto boilerplate; the ppm efficiency H/ln(V) is the "
    "normalized 0-1 form). a24's doc calls libm ln banned and "
    "substitutes Gini — tx24's ROUND(ln * 1e6) quantization recipe "
    "(g12 re-proved it: 1-ulp libm divergence sits ~1e-10 inside the "
    "integer rounding margin) since unlocked the real thing: "
    "H = ln N - (1/N) * sum(c * ln c) where every ln takes an INTEGER "
    "count, is snapped per-row to micro-nats, and every cross-row sum "
    "runs in DECIMAL(38,0)/HUGEINT (c * lnc passes int64 at ~3e11 "
    "tokens of one term; N * lnN at ~3e11 total), so both engines "
    "agree bitwise. The entropy and the efficiency ratio are integer "
    "DIVs of exact decimals. Spark shape: the one token-count shuffle "
    "the pipeline computes anyway (tx10/tx24's plan), then a per-lang "
    "map-side-combined re-agg of vocabulary-sized input; nothing "
    "row-scale survives the first groupBy.",
    tags=("text", "llm", "corpus", "statistics"),
)
def tx26_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
        ).alias("tok"),
    )
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    s = counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("cnt").alias("n"),
        F.sum(F.expr(f"CAST(cnt AS DECIMAL(38,0)) * {_TX26_LNC}")).alias(
            "slnc"
        ),
    )
    h = (
        f"(CAST(n AS DECIMAL(38,0)) "
        f"* CAST(ROUND(ln(n) * {TX26_MICRO}) AS BIGINT) - slnc) DIV n"
    )
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.expr(f"CAST({h} AS BIGINT)").alias("entropy_micro_nats"),
        F.expr(
            f"CAST(CASE WHEN vocab > 1 THEN ({h}) * {TX26_MICRO} "
            f"DIV CAST(ROUND(ln(vocab) * {TX26_MICRO}) AS BIGINT) "
            "ELSE 0 END AS BIGINT)"
        ).alias("efficiency_ppm"),
    ).orderBy("lang")


# --- pp21: exact-k weighted sample without replacement (round 12b) ---------------

PP21_K = 25
PP21_MICRO = 1_000_000
#: ln(1e6) in micro-nats — the constant term of the exponential draw
#: E = -ln(u/1e6) = ln(1e6) - ln(u), pre-quantized once in Python.
PP21_LN_M_MICRO = 13_815_511

_PP21_U_SPARK = (
    SPARK_HEX2INT.format(s="concat('pp21:', CAST(doc_id AS STRING))")
    + f" % {PP21_MICRO - 1} + 1"
)
_PP21_U_DUCK = (
    DUCK_HEX2INT.format(s="'pp21:' || CAST(doc_id AS VARCHAR)")
    + f" % {PP21_MICRO - 1} + 1"
)


@register(
    "pp21_weighted_sample",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   ({PP21_LN_M_MICRO}
                    - CAST(ROUND(ln({_PP21_U_DUCK}) * {PP21_MICRO})
                           AS BIGINT)) * {PP21_MICRO} // n_chars
                       AS key_nano
            FROM documents
            WHERE n_chars > 0
        )
        SELECT doc_id, source, n_chars, key_nano
        FROM keyed
        ORDER BY key_nano, doc_id
        LIMIT {PP21_K}
    """,
    doc=f"Exact-{PP21_K} sample of documents proportional to TOKEN MASS "
    "(weight = n_chars) WITHOUT replacement — Efraimidis-Spirakis "
    "weighted reservoir sampling as one deterministic expression: "
    "sampling documents by length is how a curation pipeline draws a "
    "probe set that is uniform over the CORPUS TOKENS rather than "
    "over documents (a10's Bernoulli sample is unweighted; pp17's "
    "DSIR keeps a variable-size set by importance threshold; this is "
    "the fixed-k weighted draw both of them can't give you). Per "
    "document: u = md5 ppm in [1, 1e6), the exponential draw "
    "E = -ln(u/1e6) becomes ln(1e6) - ln(u) — ln of an INTEGER, "
    "snapped to micro-nats (tx24/g12's recipe), with ln(1e6) "
    "pre-quantized in Python — and the ES key E/w quantizes by exact "
    "integer DIV to nano units; the k smallest keys ARE the weighted "
    "sample (Efraimidis & Spirakis 2006, Thm 1 — each subset drawn "
    "with its without-replacement probability). Zero RNG, zero float "
    "surface: both engines draw the IDENTICAL sample. Scale shape: "
    "map-only key computation + TakeOrdered(k) — no shuffle at all; "
    "the classic reservoir algorithm's sequential pass becomes one "
    "embarrassingly-parallel min-k. Digit budget: E <= 13.8e6 "
    "micro-nats, x1e6 <= 1.4e13 — BIGINT-safe at any corpus size.",
    tags=("sampling", "llm", "curation"),
)
def pp21_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    keyed = d.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            f"({PP21_LN_M_MICRO} "
            f"- CAST(ROUND(ln({_PP21_U_SPARK}) * {PP21_MICRO}) AS BIGINT))"
            f" * {PP21_MICRO} DIV n_chars"
        ).alias("key_nano"),
    )
    return keyed.orderBy("key_nano", "doc_id").limit(PP21_K)


# --- tx27: Heaps' law vocabulary-growth fit (round 13) ---------------------------

TX27_CHECKPOINTS = 10
TX27_MICRO = 1_000_000

_TX27_LN = f"CAST(ROUND(ln({{k}}) * {TX27_MICRO}) AS BIGINT)"


@register(
    "tx27_heaps_law_fit",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY doc_id) AS r,
                   CAST(len({_DUCK_TOKS}) AS BIGINT) AS tok_n
            FROM documents
        ),
        toks AS (
            SELECT r, unnest({_DUCK_TOKS}) AS tok
            FROM documents
            JOIN docs USING (doc_id)
        ),
        first_occ AS (
            SELECT tok, CAST(MIN(r) AS BIGINT) AS fr FROM toks GROUP BY tok
        ),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
        cps AS (
            SELECT CAST(j AS BIGINT) AS j,
                   (n * j + {TX27_CHECKPOINTS - 1}) // {TX27_CHECKPOINTS} AS k
            FROM generate_series(1, {TX27_CHECKPOINTS}) AS g(j)
            CROSS JOIN nd
        ),
        per AS (
            SELECT cps.j, MAX(cps.k) AS k,
                   CAST(SUM(d.tok_n) AS BIGINT) AS n_tokens
            FROM cps JOIN docs d ON d.r <= cps.k
            GROUP BY cps.j
        ),
        voc AS (
            SELECT cps.j, CAST(COUNT(*) AS BIGINT) AS vocab
            FROM cps JOIN first_occ f ON f.fr <= cps.k
            GROUP BY cps.j
        ),
        pts AS (
            SELECT per.j, per.k, per.n_tokens, voc.vocab,
                   {_TX27_LN.format(k='per.n_tokens')} AS x,
                   {_TX27_LN.format(k='voc.vocab')} AS y
            FROM per JOIN voc USING (j)
        ),
        fit AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS m,
                   CAST(SUM(x) AS HUGEINT) AS sx,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx
            FROM pts
        )
        SELECT pts.j AS decile, pts.k AS n_docs, pts.n_tokens, pts.vocab,
               CAST(m * sxy - sx * sy AS DOUBLE)
                   / CAST(m * sxx - sx * sx AS DOUBLE) AS heaps_beta
        FROM pts CROSS JOIN fit
        ORDER BY pts.j
    """,
    doc="Heaps' law fit — vocabulary growth V(N) ~ K * N^beta over the "
    "corpus in ingestion (doc_id) order: ten checkpoint rows carry "
    "(docs seen, tokens seen, distinct vocabulary) and the log-log "
    "OLS slope beta, the curation scalar that tells you whether more "
    "data still buys new vocabulary (beta ~ 0.5 is natural text; "
    "beta collapsing toward 0 after a filter pass means the pass "
    "left boilerplate clones — the growth-curve complement of tx24's "
    "Zipf exponent and tx26's entropy). Exactness: a token's first "
    "occurrence is MIN(doc rank) — so V at any checkpoint is an "
    "exact COUNT, never a sketch; checkpoint coordinates snap to "
    "integer micro-nats ({_TX27_LN}-style ln of INTEGER totals, "
    "tx26's recipe), the OLS moments are exact HUGEINT/DECIMAL sums "
    "over 10 rows, and beta is ONE float division of two exact "
    "integers — bitwise across engines. Scale: the ingestion rank is "
    "pp8's DISTRIBUTED rank (value-range buckets + per-bucket windows "
    "+ a broadcast prefix rebase — no global single-partition sort), "
    "then one token explode -> one (token, min rank) shuffle (the "
    "tx10/tx24 plan), then everything is vocabulary-sized; the "
    "checkpoint joins are 10 x vocab/docs semi-scans, map-side. Beta "
    "repeats per row (ts26's spelling) so the single-fit answer and "
    "the curve both sit in the value hash.",
    tags=("text", "llm", "corpus", "statistics"),
)
def tx27_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    toks_arr = F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
    # DISTRIBUTED doc rank (pp8's recipe): a bare row_number over the
    # whole corpus would single-partition-sort every doc at 100 TB.
    # doc_ids bucket by value range (buckets are ordered), ranks are
    # per-bucket windows, and a broadcast exclusive-prefix rebases them
    # to the global rank — identical result, parallel sort.
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    nb = 64
    span = int(hi) - int(lo) + 1
    bucketed = d.select(
        "doc_id",
        F.expr(
            f"CAST((doc_id - {int(lo)}) * {nb} DIV {span} AS INT)"
        ).alias("bucket"),
        F.size(toks_arr).cast("long").alias("tok_n"),
        toks_arr.alias("toks"),
    )
    within = F.row_number().over(
        Window.partitionBy("bucket").orderBy("doc_id")
    )
    per_doc = bucketed.withColumn("within", within)
    bprefix = (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("btot"))
        .select(
            "bucket",
            F.coalesce(
                F.sum("btot").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("bprefix"),
        )
    )
    docs = per_doc.join(F.broadcast(bprefix), "bucket").select(
        "doc_id",
        (F.col("bprefix") + F.col("within")).cast("long").alias("r"),
        "tok_n",
        "toks",
    ).persist()  # plan-cache: feeds first-occurrence, totals, checkpoints
    first_occ = (
        docs.select("r", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("r").alias("fr"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    cps = (
        spark.range(1, TX27_CHECKPOINTS + 1)
        .select(F.col("id").alias("j"))
        .crossJoin(F.broadcast(nd))
        .select(
            "j",
            F.expr(
                f"(n * j + {TX27_CHECKPOINTS - 1}) DIV {TX27_CHECKPOINTS}"
            ).alias("k"),
        )
    )
    per = (
        F.broadcast(cps)
        .join(docs, F.col("r") <= F.col("k"))
        .groupBy("j")
        .agg(F.max("k").alias("k"), F.sum("tok_n").alias("n_tokens"))
    )
    voc = (
        F.broadcast(cps)
        .join(first_occ, F.col("fr") <= F.col("k"))
        .groupBy("j")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    dec = "decimal(38,0)"
    pts = per.join(voc, "j").select(
        "j",
        "k",
        "n_tokens",
        "vocab",
        F.expr(_TX27_LN.format(k="n_tokens")).alias("x"),
        F.expr(_TX27_LN.format(k="vocab")).alias("y"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * y")).cast(dec).alias("sxy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * x")).cast(dec).alias("sxx"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("j").cast("long").alias("decile"),
            F.col("k").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            F.expr(
                "CAST(m * sxy - sx * sy AS DOUBLE) "
                "/ CAST(m * sxx - sx * sx AS DOUBLE)"
            ).alias("heaps_beta"),
        )
        .orderBy("decile")
    )


# --- pp22: token-budget waterfill across sources (round 13) ----------------------

#: Budget = half the corpus's tokens (an exact integer derivation, so
#: the operator is scale-free across fixtures).
PP22_BUDGET_NUM = 1
PP22_BUDGET_DEN = 2


@register(
    "pp22_budget_waterfill",
    oracle=f"""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS c
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(c) * {PP22_BUDGET_NUM}
                        // {PP22_BUDGET_DEN} AS BIGINT) AS b
            FROM per
        ),
        ranked AS (
            SELECT source, c,
                   ROW_NUMBER() OVER (ORDER BY c, source) AS k,
                   SUM(c) OVER (ORDER BY c, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS p
            FROM per
        ),
        funded AS (
            SELECT r.*, t.m, t.b,
                   CASE WHEN CAST(c AS HUGEINT) * (t.m - k + 1)
                             <= t.b - (p - c)
                        THEN 1 ELSE 0 END AS full_k
            FROM ranked r CROSS JOIN tot t
        ),
        cut AS (
            SELECT MAX(m) AS m, MAX(b) AS b,
                   CAST(SUM(full_k) AS BIGINT) AS kstar,
                   CAST(COALESCE(SUM(CASE WHEN full_k = 1 THEN c END), 0)
                        AS BIGINT) AS pstar
            FROM funded
        )
        SELECT f.source,
               f.c AS tokens_available,
               CAST(CASE WHEN f.full_k = 1 THEN f.c
                    ELSE (cut.b - cut.pstar) // (cut.m - cut.kstar)
                         + CASE WHEN cut.m - f.k
                                     < (cut.b - cut.pstar)
                                       % (cut.m - cut.kstar)
                                THEN 1 ELSE 0 END
                    END AS BIGINT) AS alloc_tokens,
               CAST(f.full_k = 1 AS BOOLEAN) AS at_cap
        FROM funded f CROSS JOIN cut
        ORDER BY f.source
    """,
    doc="Exact integer WATERFILL of a token budget across sources — the "
    "mixture allocator behind 'give every source a fair share of the "
    "training budget, capped by what it has': sources smaller than "
    "the fair level keep everything (at_cap), the rest split the "
    "remaining budget evenly, and the integer remainder goes to the "
    "LAST r sources in (size, name) order so the allocation sums to "
    "the budget EXACTLY — no ppm drift, no float weights (pp5/pp19 "
    "choose proportions; this turns a hard budget into per-source "
    "grants). The boundary is the classic max-min fairness condition "
    "c_k * (m-k+1) <= remaining_k, evaluated per rank from ONE "
    "window pass (monotone in k, so SUM(full_k) IS the cut index). "
    "Exactness: token counts, prefix sums, the boundary comparison "
    "(HUGEINT product), level division and remainder are all "
    "integers; the output invariant sum(alloc) = budget holds "
    "bitwise. Scale: one token-count shuffle to |sources| rows; the "
    "waterfill itself is a source-count-sized window — free at any "
    "corpus size.",
    tags=("pipeline", "llm", "sampling", "mixture"),
)
def pp22_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            F.size(
                F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
            ).cast("long").alias("tok_n"),
        )
        .groupBy("source")
        .agg(F.sum("tok_n").alias("c"))
    )
    tot = per.agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("m"),
        F.expr(
            f"CAST(SUM(c) * {PP22_BUDGET_NUM} DIV {PP22_BUDGET_DEN} "
            "AS BIGINT)"
        ).alias("b"),
    )
    wr = Window.orderBy("c", "source")
    ranked = per.select(
        "source",
        "c",
        F.row_number().over(wr).cast("long").alias("k"),
        F.sum("c").over(
            wr.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("p"),
    )
    funded = ranked.crossJoin(F.broadcast(tot)).select(
        "source",
        "c",
        "k",
        "m",
        "b",
        F.expr(
            "CASE WHEN CAST(c AS DECIMAL(38,0)) * (m - k + 1) "
            "<= b - (p - c) THEN 1 ELSE 0 END"
        ).alias("full_k"),
    ).persist()  # plan-cache: feeds the cut fold and the final grants
    cut = funded.agg(
        F.max("m").alias("m"),
        F.max("b").alias("b"),
        F.sum("full_k").cast("long").alias("kstar"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN full_k = 1 THEN c END")), F.lit(0)
        ).cast("long").alias("pstar"),
    )
    return (
        funded.crossJoin(F.broadcast(cut.select(
            F.col("m").alias("cm"),
            F.col("b").alias("cb"),
            "kstar",
            "pstar",
        )))
        .select(
            "source",
            F.col("c").alias("tokens_available"),
            F.expr(
                "CAST(CASE WHEN full_k = 1 THEN c "
                "ELSE (cb - pstar) DIV (cm - kstar) "
                "+ CASE WHEN cm - k < (cb - pstar) % (cm - kstar) "
                "THEN 1 ELSE 0 END END AS BIGINT)"
            ).alias("alloc_tokens"),
            F.expr("full_k = 1").alias("at_cap"),
        )
        .orderBy("source")
    )


# --- mm13: vision token budget under anyres tiling (round 13) --------------------

MM13_TILE = 336          # tile side (the common ViT-L/14 @ 336 input)
MM13_TOKENS_PER_TILE = 576  # (336/14)^2 patches per tile
MM13_MAX_G = 3           # grid side clamp: at most 3x3 tiles + thumbnail


@register(
    "mm13_vision_token_budget",
    oracle=f"""
        WITH img AS (
            SELECT source,
                   128 * (4 + ascii(substr(text, 1, 1)) % 13) AS w,
                   128 * (4 + ascii(substr(text, 2, 1)) % 13) AS h
            FROM documents WHERE length(text) >= 2
        ),
        grid AS (
            SELECT source,
                   LEAST((w + {MM13_TILE - 1}) // {MM13_TILE},
                         {MM13_MAX_G}) AS gx,
                   LEAST((h + {MM13_TILE - 1}) // {MM13_TILE},
                         {MM13_MAX_G}) AS gy
            FROM img
        ),
        toks AS (
            SELECT source, gx, gy,
                   (gx * gy + 1) * {MM13_TOKENS_PER_TILE} AS vt
            FROM grid
        ),
        per AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_images,
                   CAST(SUM(vt) AS BIGINT) AS vision_tokens
            FROM toks GROUP BY source
        ),
        tot AS (SELECT CAST(SUM(vision_tokens) AS BIGINT) AS t FROM per)
        SELECT source, n_images, vision_tokens,
               CAST(CAST(vision_tokens AS HUGEINT) * 1000000 // t AS BIGINT)
                   AS share_ppm
        FROM per CROSS JOIN tot
        ORDER BY source
    """,
    doc="VISION TOKEN BUDGET under anyres tiling — the planning number "
    "a VLM data pipeline needs BEFORE training: each image (mm11/mm12's "
    "deterministic metadata dims) maps to a tile grid (ceil(side/336) "
    f"per axis, clamped to {MM13_MAX_G}) plus the global thumbnail, at "
    f"{MM13_TOKENS_PER_TILE} patch tokens per tile — the LLaVA-NeXT-"
    "style cost model where one 1344px-wide image costs ~10x a "
    "thumbnail-only one; summed per source with the ppm share of the "
    "corpus budget, this is what decides which sources blow the "
    "sequence-length budget (mm10 packs sequences AFTER this number "
    "says what each image costs). Exact integers end to end: ceil as "
    "(x + t - 1) DIV t on non-negative operands, token sums in "
    "BIGINT/HUGEINT, the share one integer DIV. Scale: map-only "
    "geometry + ONE |sources|-row groupBy — scan bandwidth with a "
    "source-count-sized result, same as mm11/mm12; the real decode "
    "never runs (the binary-payload rule: metadata decides, payloads "
    "move only for the chosen rows).",
    tags=("multimodal", "llm", "pipeline"),
)
def mm13_vision_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    img = d.filter(F.length("text") >= 2).select(
        "source",
        F.expr("128 * (4 + ascii(substr(text, 1, 1)) % 13)").alias("w"),
        F.expr("128 * (4 + ascii(substr(text, 2, 1)) % 13)").alias("h"),
    )
    grid = img.select(
        "source",
        F.expr(
            f"LEAST((w + {MM13_TILE - 1}) DIV {MM13_TILE}, {MM13_MAX_G})"
        ).alias("gx"),
        F.expr(
            f"LEAST((h + {MM13_TILE - 1}) DIV {MM13_TILE}, {MM13_MAX_G})"
        ).alias("gy"),
    )
    per = (
        grid.select(
            "source",
            F.expr(f"(gx * gy + 1) * {MM13_TOKENS_PER_TILE}").alias("vt"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("vt").cast("long").alias("vision_tokens"),
        )
    )
    tot = per.agg(F.sum("vision_tokens").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_images",
            "vision_tokens",
            F.expr(
                "CAST(CAST(vision_tokens AS DECIMAL(38,0)) * 1000000 "
                "DIV t AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pp24: data-constrained epoch schedule (round 14)
# ---------------------------------------------------------------------------

#: Budget as a multiple of the corpus: 2x forces repetition, exercising
#: the diminishing-returns ladder (a 1x budget would be one epoch of
#: everything and the schedule degenerates).
PP24_BUDGET_NUM = 2
PP24_BUDGET_DEN = 1
#: Marginal value of the k-th epoch of the SAME data, per mille — the
#: data-constrained-scaling observation (repeating pretraining data
#: decays in value roughly geometrically; ~4 epochs is the useful
#: ceiling). Epochs beyond the ladder are worth 0 and never scheduled.
PP24_EPOCH_VALUE_PERMILLE = (1000, 500, 250, 125)


@register(
    "pp24_epoch_schedule",
    oracle=f"""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS c
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(c) * {PP24_BUDGET_NUM}
                        // {PP24_BUDGET_DEN} AS BIGINT) AS b
            FROM per
        ),
        cand AS (
            SELECT per.source, per.c, g.epoch,
                   CASE g.epoch
                       WHEN 1 THEN {PP24_EPOCH_VALUE_PERMILLE[0]}
                       WHEN 2 THEN {PP24_EPOCH_VALUE_PERMILLE[1]}
                       WHEN 3 THEN {PP24_EPOCH_VALUE_PERMILLE[2]}
                       ELSE {PP24_EPOCH_VALUE_PERMILLE[3]}
                   END AS value_permille
            FROM per, generate_series(1, 4) AS g(epoch)
        ),
        ranked AS (
            SELECT *,
                   SUM(c) OVER (
                       ORDER BY value_permille DESC, source, epoch
                       ROWS UNBOUNDED PRECEDING
                   ) - c AS cum_before
            FROM cand
        )
        SELECT source, CAST(epoch AS BIGINT) AS epoch,
               CAST(value_permille AS BIGINT) AS value_permille,
               c AS domain_tokens,
               CAST(LEAST(c, GREATEST(tot.b - cum_before, 0))
                    AS BIGINT) AS tokens_alloc
        FROM ranked CROSS JOIN tot
        WHERE LEAST(c, GREATEST(tot.b - cum_before, 0)) > 0
        ORDER BY value_permille DESC, source, epoch
    """,
    doc="Data-constrained epoch schedule — given a token budget LARGER "
    "than the deduplicated corpus (the regime every frontier run is "
    "in), how many EPOCHS of each domain to take: repeating data "
    "decays in value roughly geometrically per epoch with ~4 epochs "
    "the useful ceiling (the data-constrained-scaling result), so the "
    "planner materializes (domain, epoch<=4) candidates with the "
    "per-mille value ladder, greedily funds them in value order "
    "(marginal value per token of epoch k is the SAME for every token "
    "in it, so the greedy is optimal — it is the fractional knapsack "
    "on a finite ladder), and clamps the boundary candidate to the "
    "remaining budget: alloc = min(c, max(B - cum_before, 0)) from "
    "ONE window cumsum over the |domains|x4 candidate frame. Exact "
    "integer arithmetic end to end (budget by integer DIV, cumsum of "
    "BIGINT counts); the per-epoch rows with value ladder + clamps "
    "all sit in the value hash. Scale: the corpus is touched ONCE "
    "for per-domain token counts (map-side combined sum); everything "
    "after is |domains|x4 rows on the driver-side-free window — the "
    "same bounded-spine shape as pp22's waterfill, answering the "
    "complementary question (pp22: fair shares under a SMALLER "
    "budget; pp24: repetition plan under a LARGER one).",
    tags=("pipeline", "planning"),
)
def pp24_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            F.size(
                F.split(F.lower(F.trim(F.col("text"))), _TOKEN_SPLIT)
            ).cast("long").alias("tok_n"),
        )
        .groupBy("source")
        .agg(F.sum("tok_n").alias("c"))
    )
    tot = per.agg(
        F.expr(
            f"CAST(SUM(c) * {PP24_BUDGET_NUM} DIV {PP24_BUDGET_DEN} "
            "AS BIGINT)"
        ).alias("b")
    )
    cand = per.crossJoin(
        F.broadcast(
            per.sparkSession.createDataFrame(
                [
                    (k + 1, v)
                    for k, v in enumerate(PP24_EPOCH_VALUE_PERMILLE)
                ],
                "epoch long, value_permille long",
            )
        )
    )
    w = Window.orderBy(
        F.desc("value_permille"), F.col("source"), F.col("epoch")
    )
    ranked = cand.select(
        "source",
        "epoch",
        "value_permille",
        F.col("c").alias("domain_tokens"),
        (
            F.sum("c").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("c")
        ).alias("cum_before"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "epoch",
            "value_permille",
            "domain_tokens",
            F.expr(
                "CAST(LEAST(domain_tokens, "
                "GREATEST(b - cum_before, CAST(0 AS BIGINT))) AS BIGINT)"
            ).alias("tokens_alloc"),
        )
        .filter(F.col("tokens_alloc") > 0)
        .orderBy(F.desc("value_permille"), "source", "epoch")
    )


# --- mm14: video frame-sampling schedule (round 14) --------------------------

MM14_SAMPLE_FPS = 2      # target sampling rate
MM14_MAX_FRAMES = 64     # per-video frame cap (uniform stride beyond)
MM14_TOKENS_PER_FRAME = 144  # pooled 12x12 patch tokens per frame


@register(
    "mm14_frame_sampling_schedule",
    oracle=f"""
        WITH vid AS (
            SELECT source,
                   5 + ascii(substr(text, 3, 1)) % 116 AS duration_s,
                   24 + (ascii(substr(text, 4, 1)) % 2) * 6 AS fps
            FROM documents WHERE length(text) >= 4
        ),
        plan AS (
            SELECT source, duration_s, fps,
                   duration_s * fps AS native_frames,
                   LEAST(duration_s * {MM14_SAMPLE_FPS},
                         {MM14_MAX_FRAMES}) AS sampled
            FROM vid
        ),
        per AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_videos,
                   CAST(SUM(native_frames) AS BIGINT) AS native_frames,
                   CAST(SUM(sampled) AS BIGINT) AS sampled_frames,
                   CAST(SUM(CASE WHEN duration_s * {MM14_SAMPLE_FPS}
                                      > {MM14_MAX_FRAMES}
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_capped,
                   CAST(SUM(sampled) * {MM14_TOKENS_PER_FRAME} AS BIGINT)
                       AS vision_tokens
            FROM plan GROUP BY source
        ),
        tot AS (SELECT CAST(SUM(vision_tokens) AS BIGINT) AS t FROM per)
        SELECT source, n_videos, native_frames, sampled_frames, n_capped,
               vision_tokens,
               CAST(CAST(vision_tokens AS HUGEINT) * 1000000 // t
                    AS BIGINT) AS share_ppm
        FROM per CROSS JOIN tot
        ORDER BY source
    """,
    doc="VIDEO frame-sampling schedule — mm13's budget question for the "
    "temporal axis: each video (deterministic metadata dims — "
    f"duration 5-120 s, native 24/30 fps) samples at {MM14_SAMPLE_FPS} "
    f"fps capped at {MM14_MAX_FRAMES} frames (uniform stride beyond, "
    "the standard VLM video recipe: rate-sample short clips, "
    "stride-sample long ones so an hour of video cannot blow the "
    "sequence budget), costing "
    f"{MM14_TOKENS_PER_FRAME} pooled tokens per frame. Per source: "
    "native vs sampled frame totals (the compression the schedule "
    "buys), how many videos hit the cap, and the vision-token share "
    "in exact ppm — the number that decides which sources need a "
    "lower rate before packing (mm10) even starts. Exact integers "
    "end to end; map-only geometry + ONE |sources|-row groupBy; the "
    "decode itself never runs (binary-payload rule — the schedule is "
    "metadata arithmetic, frames move only for chosen rows).",
    tags=("multimodal", "llm", "pipeline", "planning"),
)
def mm14_frame_sampling_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    vid = d.filter(F.length("text") >= 4).select(
        "source",
        F.expr("5 + ascii(substr(text, 3, 1)) % 116").alias("duration_s"),
        F.expr("24 + (ascii(substr(text, 4, 1)) % 2) * 6").alias("fps"),
    )
    plan = vid.select(
        "source",
        "duration_s",
        (F.col("duration_s") * F.col("fps")).alias("native_frames"),
        F.least(
            F.col("duration_s") * MM14_SAMPLE_FPS, F.lit(MM14_MAX_FRAMES)
        ).alias("sampled"),
    )
    per = plan.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum("native_frames").cast("long").alias("native_frames"),
        F.sum("sampled").cast("long").alias("sampled_frames"),
        F.sum(
            F.when(
                F.col("duration_s") * MM14_SAMPLE_FPS > MM14_MAX_FRAMES, 1
            ).otherwise(0)
        ).cast("long").alias("n_capped"),
        (F.sum("sampled") * MM14_TOKENS_PER_FRAME)
        .cast("long")
        .alias("vision_tokens"),
    )
    tot = per.agg(F.sum("vision_tokens").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_videos",
            "native_frames",
            "sampled_frames",
            "n_capped",
            "vision_tokens",
            F.expr(
                "CAST(CAST(vision_tokens AS DECIMAL(38,0)) * 1000000 "
                "DIV t AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("source")
    )
