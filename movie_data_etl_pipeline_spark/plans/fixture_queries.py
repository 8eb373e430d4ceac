"""The oracle-checked query surface: every operator from SURVEY.md §2
(reference parity) and §2.9 (north-star extensions), expressed on the
driver fixture tables with a paired DuckDB oracle SQL where the
semantics are ANSI-expressible.

Role mapping (FIXTURES.md §C): supplier≈actors, nation≈genres,
orders/lineitem≈movies/junctions. Each Spark query mirrors the exact
plan shape of the corresponding reference view/operator (cited per
function); the oracle string computes the same result in DuckDB.

Determinism rules applied throughout (the driver hashes values
order-insensitively but exactly):
* every computed column aliased identically on both sides;
* counts/sizes cast to BIGINT on both sides (DuckDB sums are HUGEINT,
  Spark sizes are INT — both normalized);
* doubles only after ROUND(x, n) of deterministically-identical inputs
  (same per-row IEEE ops; aggregation orders avoided or exact);
* timestamps rendered as 'yyyy-MM-dd HH:mm:ss' strings (UTC session TZ
  pinned in session.py; DuckDB is UTC-naive);
* window/dedup orderings are total (unique tiebreaker column last).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions import portable_hash as ph
from movie_data_etl_pipeline_spark.functions import scalar as SC
from movie_data_etl_pipeline_spark.functions import text as TX
from movie_data_etl_pipeline_spark.operators import (
    bloom,
    dedup,
    export,
    graph,
    incremental,
    indexing,
    joins,
    layout,
    merge,
    multimodal,
    quality,
    sampling,
    similarity,
    sketches,
    skew,
    stats,
    text_analysis,
    topn,
)
from movie_data_etl_pipeline_spark.sources import load_table
from movie_data_etl_pipeline_spark.streaming import windows as SW

QueryFn = Callable[[SparkSession, str], DataFrame]

_DATE = "yyyy-MM-dd"
_TS = "yyyy-MM-dd HH:mm:ss"


# ---------------------------------------------------------------------------
# Reference-parity views V1–V4 (SURVEY.md §2.8; /root/reference/sql/03_views.sql)
# ---------------------------------------------------------------------------


def v1_top_actors(spark: SparkSession, sf: str) -> DataFrame:
    """V1 ``v_top_actors`` (``sql/03_views.sql:4-13``): J1+A1+T1 —
    supplier≈actor, lineitem≈movie_actor, order≈movie."""
    supplier = load_table(spark, sf, "supplier")
    lineitem = load_table(spark, sf, "lineitem").select("l_suppkey", "l_orderkey")
    return (
        supplier.join(lineitem, supplier.s_suppkey == lineitem.l_suppkey, "inner")
        .groupBy("s_suppkey", "s_name")
        .agg(F.countDistinct("l_orderkey").alias("movie_count"))
        .orderBy(F.desc("movie_count"), F.asc("s_name"))
    )


_V1_SQL = """
SELECT s_suppkey, s_name, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS movie_count
FROM supplier JOIN lineitem ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
ORDER BY movie_count DESC, s_name ASC
"""


def v2_top_genres(spark: SparkSession, sf: str) -> DataFrame:
    """V2 ``v_top_genres`` (``sql/03_views.sql:17-26``): J2+A2+T2 —
    nation≈genre (small dim, explicitly broadcast), customer≈junction."""
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer").select("c_nationkey", "c_custkey")
    return (
        F.broadcast(nation)
        .join(customer, nation.n_nationkey == customer.c_nationkey, "inner")
        .groupBy("n_nationkey", F.col("n_name").alias("genre_name"))
        .agg(F.countDistinct("c_custkey").alias("movie_count"))
        .orderBy(F.desc("movie_count"), F.asc("genre_name"))
    )


_V2_SQL = """
SELECT n_nationkey, n_name AS genre_name,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS movie_count
FROM nation JOIN customer ON c_nationkey = n_nationkey
GROUP BY n_nationkey, n_name
ORDER BY movie_count DESC, genre_name
"""


def v3_genre_ratings(spark: SparkSession, sf: str) -> DataFrame:
    """V3 ``v_genre_ratings`` (``sql/03_views.sql:30-43``): J3+A3+P8+T3 —
    3-way chain nation⋈customer⋈orders with multi-aggregate + ROUND."""
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer").select("c_nationkey", "c_custkey", "c_acctbal")
    orders = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        F.broadcast(nation)
        .join(customer, nation.n_nationkey == customer.c_nationkey, "inner")
        .join(orders, customer.c_custkey == orders.o_custkey, "inner")
        .withColumn("__opc", SC.cents("o_totalprice"))
        .withColumn("__acc", SC.cents("c_acctbal"))
        .groupBy("n_nationkey", F.col("n_name").alias("genre_name"))
        .agg(
            F.countDistinct("o_orderkey").alias("movies_in_genre"),
            SC.avg_money(F.sum("__opc"), F.count(F.lit(1))).alias("avg_rating"),
            SC.money_from_cents(F.sum("__opc")).alias("total_votes"),
            SC.avg_money(F.sum("__acc"), F.count(F.lit(1))).alias("avg_popularity"),
        )
        .orderBy(F.desc("avg_rating"), F.desc("movies_in_genre"))
    )


_V3_SQL = """
SELECT n_nationkey, n_name AS genre_name,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS movies_in_genre,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0 AS avg_rating,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_votes,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0 AS avg_popularity
FROM nation
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
GROUP BY n_nationkey, n_name
ORDER BY avg_rating DESC, movies_in_genre DESC
"""


def v4_top_actors_by_rating(spark: SparkSession, sf: str) -> DataFrame:
    """V4 ``v_top_actors_by_rating`` (``sql/03_views.sql:47-61``):
    J4+A4+A5+P8+T4 — HAVING becomes a post-agg filter on the alias."""
    supplier = load_table(spark, sf, "supplier")
    lineitem = load_table(spark, sf, "lineitem").select("l_suppkey", "l_orderkey", "l_quantity")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return (
        supplier.join(lineitem, supplier.s_suppkey == lineitem.l_suppkey, "inner")
        .join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
        .withColumn("__opc", SC.cents("o_totalprice"))
        .groupBy("s_suppkey", F.col("s_name").alias("actor_name"))
        .agg(
            F.countDistinct("l_orderkey").alias("movie_count"),
            SC.avg_money(F.sum("__opc"), F.count(F.lit(1))).alias("avg_movie_rating"),
            F.sum("l_quantity").cast("long").alias("total_votes"),
        )
        .filter(F.col("movie_count") >= 3)
        .orderBy(F.desc("avg_movie_rating"), F.desc("movie_count"), F.desc("total_votes"))
    )


_V4_SQL = """
SELECT s_suppkey, s_name AS actor_name,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS movie_count,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0 AS avg_movie_rating,
       CAST(SUM(l_quantity) AS BIGINT) AS total_votes
FROM supplier
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY s_suppkey, s_name
HAVING COUNT(DISTINCT l_orderkey) >= 3
ORDER BY avg_movie_rating DESC, movie_count DESC, total_votes DESC
"""


def t5_top20(spark: SparkSession, sf: str) -> DataFrame:
    """T5 (``README.md:106``): ``SELECT * FROM v_top_actors LIMIT 20`` —
    compiles to TakeOrderedAndProject (true top-k, no global sort). The
    ordering is total (s_name unique) so the cut is deterministic."""
    return v1_top_actors(spark, sf).limit(20)


_T5_SQL = f"SELECT * FROM ({_V1_SQL.strip().rstrip()}) v LIMIT 20"


# ---------------------------------------------------------------------------
# Flatten / projection / coercion parity (SURVEY.md §2.2–2.3)
# ---------------------------------------------------------------------------


def f1_explode(spark: SparkSession, sf: str) -> DataFrame:
    """F1 array explode (``02_etl.py:112-117``: genre_ids → rows),
    rendered as token explode over documents."""
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", F.explode(TX.tokens("text")).alias("token"))


_F1_SQL = r"""
SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
FROM documents
"""


def f2_json_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """F2/P4: nested-JSON field extraction with missing-key→NULL
    (``02_etl.py:73-80,213``) via ``from_json`` with declared schema."""
    events = load_table(spark, sf, "events")
    parsed = F.from_json("props", "k INT, missing STRING")
    return events.select(
        "event_id",
        parsed.getField("k").alias("k"),
        parsed.getField("missing").alias("missing_prop"),
    )


_F2_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       json_extract_string(props, '$.missing') AS missing_prop
FROM events
"""


def p3_scalar_coercions(spark: SparkSession, sf: str) -> DataFrame:
    """P3 empty-string→NULL (``02_etl.py:76``) + P8 ROUND + date cast:
    the reference's entire scalar-expression surface in one projection."""
    events = load_table(spark, sf, "events")
    return events.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("")).alias("event_type_nn"),
        F.date_format("ts", _DATE).alias("event_date"),
        F.round("value", 2).alias("value_r"),
    )


_P3_SQL = """
SELECT event_id,
       NULLIF(event_type, '') AS event_type_nn,
       strftime(ts, '%Y-%m-%d') AS event_date,
       ROUND(value, 2) AS value_r
FROM events
"""


# ---------------------------------------------------------------------------
# Dedup / top-N / report parity (SURVEY.md §2.5–2.6)
# ---------------------------------------------------------------------------


def o6_dedup_last_wins(spark: SparkSession, sf: str) -> DataFrame:
    """O6 last-wins keyed dedup (``02_etl.py:224-231``): latest event
    per user survives; explicit arrival order (ts, event_id)."""
    events = load_table(spark, sf, "events")
    out = dedup.dedup_last_wins(
        events, ["user_id"], [F.desc("ts"), F.desc("event_id")]
    )
    return out.select(
        "user_id", "event_id", F.date_format("ts", _TS).alias("ts"), "event_type", "value"
    )


_O6_SQL = """
SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def o7_top_n_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """O7 per-group top-N (``02_etl.py:172-184``, cast[:15]): first 3
    lineitems per order. Ordering made total with (linenumber, partkey,
    suppkey) — (orderkey, linenumber) alone is NOT unique in the fixture."""
    lineitem = load_table(spark, sf, "lineitem")
    out = topn.top_n_per_group(
        lineitem,
        ["l_orderkey"],
        [F.asc("l_linenumber"), F.asc("l_partkey"), F.asc("l_suppkey")],
        n=3,
        rank_col="cast_rank",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        F.col("cast_rank").cast("long").alias("cast_rank"),
    )


_O7_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       row_number() OVER (PARTITION BY l_orderkey
                          ORDER BY l_linenumber, l_partkey, l_suppkey) AS cast_rank
FROM lineitem
QUALIFY cast_rank <= 3
"""


def a6_duplicate_report(spark: SparkSession, sf: str) -> DataFrame:
    """A6 duplicate detection (``02_etl.py:233-244``): composite keys
    appearing more than once."""
    events = load_table(spark, sf, "events")
    return dedup.duplicate_report(events, ["user_id", "event_type"])


_A6_SQL = """
SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# Upsert / merge parity (SURVEY.md §2.6 O8/O9)
# ---------------------------------------------------------------------------


def _orders_str_date(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.date_format("o_orderdate", _DATE).alias("o_orderdate"), "o_orderpriority",
    )


def o8_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """O8 update-on-conflict (``02_etl.py:84-101``): a synthetic rerun —
    target = orders with key%4≠0; updates = modified orders with key%2=0
    (so half the updates match, half are inserts). Incoming wins."""
    ord_ = _orders_str_date(spark, sf)
    target = ord_.filter(F.col("o_orderkey") % 4 != 0)
    updates = ord_.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        SC.money_from_cents(SC.cents("o_totalprice") + 750).alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
    )
    return merge.upsert(target, updates, ["o_orderkey"])


_O8_SQL = """
WITH ord AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
  FROM orders
),
target AS (SELECT * FROM ord WHERE o_orderkey % 4 <> 0),
updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) + 750 AS DOUBLE) / 100.0
           AS o_totalprice, o_orderdate, o_orderpriority
  FROM ord WHERE o_orderkey % 2 = 0
)
SELECT * FROM updates
UNION ALL
SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
"""


def o8_upsert_preserve(spark: SparkSession, sf: str) -> DataFrame:
    """O8, the ``runtime_minutes`` trap (``02_etl.py:92-100``): the
    o_orderpriority column is EXCLUDED from the update — old non-null
    values survive; update rows carry NULL there."""
    ord_ = _orders_str_date(spark, sf)
    target = ord_.filter(F.col("o_orderkey") % 4 != 0)
    updates = ord_.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        SC.money_from_cents(SC.cents("o_totalprice") + 750).alias("o_totalprice"),
        "o_orderdate",
        F.lit(None).cast("string").alias("o_orderpriority"),
    )
    return merge.upsert(target, updates, ["o_orderkey"], preserve_cols=["o_orderpriority"])


_O8P_SQL = """
WITH ord AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
  FROM orders
),
target AS (SELECT * FROM ord WHERE o_orderkey % 4 <> 0),
updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) + 750 AS DOUBLE) / 100.0
           AS o_totalprice, o_orderdate,
         CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM ord WHERE o_orderkey % 2 = 0
)
SELECT COALESCE(t.o_orderkey, u.o_orderkey) AS o_orderkey,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
       COALESCE(t.o_orderpriority, u.o_orderpriority) AS o_orderpriority
FROM target t FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
"""


def o9_insert_if_absent(spark: SparkSession, sf: str) -> DataFrame:
    """O9 insert-if-absent (``02_etl.py:123-128``, junction ON CONFLICT
    DO NOTHING): existing junction = (part, supp) pairs from even orders;
    incoming = pairs from odd orders (with dupes — self-deduped)."""
    li = load_table(spark, sf, "lineitem")
    target = li.filter(F.col("l_orderkey") % 2 == 0).select("l_partkey", "l_suppkey").distinct()
    incoming = li.filter(F.col("l_orderkey") % 2 == 1).select("l_partkey", "l_suppkey")
    return merge.insert_if_absent(target, incoming, ["l_partkey", "l_suppkey"])


_O9_SQL = "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"


# ---------------------------------------------------------------------------
# Text analysis extensions (SURVEY.md §2.9)
# ---------------------------------------------------------------------------

# Shared DuckDB fragments: tokens exactly as functions.text.tokens().
_D_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"


def tx_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    out = text_analysis.token_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "ttr", "mean_token_len", "n_chars",
    )


_TX_STATS_SQL = f"""
WITH t AS (SELECT doc_id, n_chars, {_D_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       ROUND(len(list_distinct(toks)) / len(toks), 6) AS ttr,
       ROUND(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
             / len(toks), 6) AS mean_token_len,
       n_chars
FROM t
"""


def tx_token_frequency(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return text_analysis.token_frequency(docs, top_k=100)


_TX_FREQ_SQL = f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest({_D_TOKS}) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 100
"""


def tx_lang_distribution(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return text_analysis.lang_distribution(docs)


_TX_LANG_SQL = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY lang ORDER BY n_docs DESC, lang ASC
"""


def tx_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return text_analysis.quality_scores(docs)


_STOP_LIST = ", ".join(f"'{s}'" for s in TX.STOPWORDS)

_TX_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, text, {_D_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, text, toks,
         CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
           / len(toks) AS mean_len,
         len(list_distinct(toks)) / len(toks) AS ttr,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text) AS punct
  FROM t
)
SELECT doc_id,
       ROUND(0.4 * (1.0 - LEAST(ABS(mean_len - 5.0) / 5.0, 1.0))
             + 0.4 * ttr
             + 0.2 * (1.0 - LEAST(punct * 5.0, 1.0)), 6) AS quality,
       ROUND(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], lower(x))))
             / len(toks), 6) AS stopword_ratio,
       ROUND(punct, 6) AS punct_ratio
FROM m
"""


def tx_language_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return text_analysis.language_id(docs)


_TX_LANGID_SQL = """
SELECT doc_id, lang AS declared_lang,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '[äöüßÄÖÜ]|\\b(der|die|das|und|nicht|ist)\\b') THEN 'de'
            WHEN regexp_matches(text, '[àâçéèêëîïôùûœ]|\\b(le|la|les|est|dans|pour)\\b') THEN 'fr'
            WHEN regexp_matches(text, '[áéíóúñ¿¡]|\\b(el|los|las|es|para|como)\\b') THEN 'es'
            ELSE 'en' END AS predicted_lang
FROM documents
"""


def tx_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return text_analysis.fingerprints(docs)


_TX_FP_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Dedup extensions: exact groups, n-gram Jaccard, MinHash LSH, SimHash
# ---------------------------------------------------------------------------


def _dup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ an uppercased copy with offset ids — a corpus with
    known exact duplicates (modulo the fingerprint normalization) for
    exercising dedup, since the fixture has no byte-identical texts."""
    docs = load_table(spark, sf, "documents")
    copy = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.unionByName(copy)


def dd_exact_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate groups by normalized fingerprint (A6 generalized
    to content keys; the case-variant copies collide by design)."""
    return text_analysis.exact_dup_groups(_dup_corpus(spark, sf))


_DD_EXACT_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper(text) AS text FROM documents
)
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(doc_id) AS canonical_doc_id
FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
"""


def dd_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.5) —
    the fixture generator plants real near-duplicates, so this finds
    non-trivial pairs. Candidates via inverted-index join, no crossJoin.
    Reads the family-shared cached pair relation (``plans/doc_pairs``)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import jaccard_pairs

    return jaccard_pairs(spark, sf, 0.5)


_DD_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       ROUND(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE n_shared / (sa.n_sh + sb.n_sh - n_shared) >= 0.5
"""


def dd_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (banded signatures → bucket join →
    exact verify). Approximate recall → rows-only check; the exact
    Jaccard twin above is the oracle-checked ground truth. Shingle sets
    AND the 64×16 banded index come from the family-shared checkpointed
    builds (``plans/doc_pairs``) — the index is the relation a
    production pipeline persists anyway, and ``dd_minhash_incremental``
    reads the identical one."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import (
        xxh_banded_index,
        xxh_shingle_sets,
    )

    docs = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=64, bands=16, threshold=0.5,
        sh=xxh_shingle_sets(spark, sf),
        banded=xxh_banded_index(spark, sf),
    )


def dd_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs (pigeonhole chunk join + exact hamming
    verify). Hash-function-dependent output → rows-only check."""
    docs = load_table(spark, sf, "documents")
    return dedup.simhash_near_dup_pairs(docs, max_hamming=6, chunks=4)


def gr_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 PageRank over the customer↔supplier co-transaction graph
    — an ITERATIVE algorithm with a full value-checked oracle: integer
    fixed-point arithmetic (``operators/graph.py``) makes all three
    propagation rounds engine-exact, so the DuckDB twin simply unrolls
    the same iterations as chained CTEs. Join+groupBy per round, lineage
    checkpointed — the Pregel-on-DataFrames shape. The edge relation
    comes from the family-shared cached build (``plans/graph_edges``)."""
    from movie_data_etl_pipeline_spark.plans.graph_edges import cotx_edges

    edges = cotx_edges(spark, sf)
    ranks = graph.pagerank_fixed_point(edges, iters=3)
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(20)


def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
c_{out} AS (
  SELECT e.dst, SUM(r.rank // d.outdeg) AS contrib
  FROM edges e JOIN deg d ON d.src = e.src JOIN {prev} r ON r.node = e.src
  GROUP BY 1
),
{out} AS (
  SELECT node, CAST(150000000000 + (17 * COALESCE(contrib, 0)) // 20 AS BIGINT) AS rank
  FROM nodes LEFT JOIN c_{out} ON dst = node
)"""


_GR_PAGERANK_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c_node, l_suppkey * 2 + 1 AS s_node
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c_node AS src, s_node AS dst FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
r0 AS (SELECT node, 1000000000000::BIGINT AS rank FROM nodes),
{_pagerank_iter_sql('r0', 'r1')},
{_pagerank_iter_sql('r1', 'r2')},
{_pagerank_iter_sql('r2', 'r3')}
SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20
"""


def dd_minhash_portable(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash banding with the engine-portable hash family
    (``functions.portable_hash``): the SAME zero-shuffle-signature →
    band-bucket-join → verify plan as ``dd_minhash_lsh``, but every hash
    value is reproducible in DuckDB — so the LSH pipeline itself (which
    pairs collide, not just how many) is hash-checked by the oracle.
    The xxhash64 production twin stays rows-only + recall-tested.
    Portable shingle sets AND the 32x8 banded index come from the
    family-shared cached builds."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import (
        portable_banded_index,
        portable_shingle_sets,
    )

    docs = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_pairs_portable(
        docs, n=3, num_hashes=32, bands=8, threshold=0.5,
        sh=portable_shingle_sets(spark, sf),
        banded=portable_banded_index(spark, sf),
    )


# shared CTE prefix: portable-hashed shingle sets → 32-slot LCG minhash
# signatures → 8 bands of 4 folded to bucket ids (mirrors
# dedup._portable_shingle_sets + _portable_banded value-for-value)
_MINHASH_PORT_CTES = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents
),
shs AS (
  SELECT doc_id AS id,
         list_sort(list_distinct(
           [{ph.sql_str_hash("array_to_string(t[i:i+2], ' ')")} for i in range(1, len(t) - 1)]
         )) AS sh
  FROM toks WHERE len(t) >= 3
),
sigs AS (
  SELECT id, [list_min([{ph.sql_lcg_perm('i', 'x')} for x in sh]) for i in range(0, 32)] AS sig
  FROM shs
),
banded AS (
  SELECT id, b AS band, {ph.sql_fold_longs("list_slice(sig, b*4 + 1, b*4 + 4)")} AS bucket
  FROM sigs, range(0, 8) r(b)
)"""

_MINHASH_PORT_VERIFY = """
SELECT a_id, b_id, ROUND(n_shared / (a_n + b_n - n_shared), 6) AS jaccard
FROM (
  SELECT a_id, b_id,
         len(list_intersect(sa.sh, sb.sh)) AS n_shared,
         len(sa.sh) AS a_n, len(sb.sh) AS b_n
  FROM cand JOIN shs sa ON sa.id = a_id JOIN shs sb ON sb.id = b_id
)
WHERE n_shared / (a_n + b_n - n_shared) >= 0.5
"""

_DD_MINHASH_PORT_SQL = f"""{_MINHASH_PORT_CTES},
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
{_MINHASH_PORT_VERIFY}"""

_DD_MINHASH_INCR_PORT_SQL = f"""{_MINHASH_PORT_CTES},
cand AS (
  SELECT DISTINCT least(a.id, b.id) AS a_id, greatest(a.id, b.id) AS b_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id <> b.id
  WHERE a.id % 10 = 0
)
{_MINHASH_PORT_VERIFY}"""


def qa_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """Release-gate privacy audit (``quality.k_anonymity_report``):
    k-anonymity of customers under the quasi-identifier combination
    (nation, market segment) at k=5 — groups, min group size, violating
    groups, rows at risk."""
    c = load_table(spark, sf, "customer")
    return quality.k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], k=5)


_QA_KANON_SQL = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*)::BIGINT AS n
  FROM customer GROUP BY 1, 2
)
SELECT COUNT(*)::BIGINT AS n_groups,
       MIN(n)::BIGINT AS min_group_size,
       SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT AS violating_groups,
       SUM(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS rows_at_risk
FROM g
"""


def sa_temporal_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe temporal split (``sampling.temporal_split``):
    events labeled train / embargo / test around a fixed cutoff with a
    1-day quarantine gap; per-split × event-type row accounting — every
    row is labeled, none silently dropped."""
    ev = load_table(spark, sf, "events")
    lab = sampling.temporal_split(ev, "ts", cutoff="2024-01-20 00:00:00", embargo_days=1)
    return (
        lab.groupBy("split", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy("split", "event_type")
    )


_SA_TEMPORAL_SQL = """
SELECT CASE WHEN ts < TIMESTAMP '2024-01-19 00:00:00' THEN 'train'
            WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'embargo'
            ELSE 'test' END AS split,
       event_type,
       COUNT(*)::BIGINT AS n_events
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def st_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment (``streaming.stream_static_enrich``):
    events decorated with the customer market segment via a broadcast
    dimension join, then hourly tumbling counts per segment — the
    firehose-decoration pattern; the streaming run's batch equivalence
    is asserted in `tests/test_streaming.py`, this is the batch
    rendering the oracle checks."""
    ev = load_table(spark, sf, "events")
    dim = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = SW.stream_static_enrich(ev, dim, "user_id")
    return (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
        )
        .orderBy("window_start", "segment")
    )


_ST_ENRICH_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       c_mktsegment AS segment,
       COUNT(*)::BIGINT AS n_events
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def tx_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Order-1 LM gate (``text_analysis.bigram_surprisal``): mean
    add-one-smoothed bigram surprisal per document — catches scrambled
    token SEQUENCES the unigram gate cannot. Zero-shuffle bigram
    construction; per-type 2^-20 surprisal quantization then int64
    sums."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.bigram_surprisal(docs)


_TX_BIGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id AS id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
bi AS (
  SELECT id, b['w1'] AS w1, b['w2'] AS w2
  FROM (
    SELECT id, unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS b
    FROM toks WHERE len(t) >= 2
  )
),
dk AS (SELECT id, w1, w2, COUNT(*)::BIGINT AS k FROM bi GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, SUM(k)::BIGINT AS c12 FROM dk GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w2)::BIGINT AS v FROM c12),
priced AS (
  SELECT w1, w2,
         CAST(floor(ln(CAST(c1 + v AS DOUBLE) / CAST(c12 + 1 AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS u
  FROM c12 JOIN c1 USING (w1) CROSS JOIN v
)
SELECT id AS doc_id,
       SUM(k)::BIGINT AS n_bigrams,
       ROUND(SUM(k * u) / (1048576.0 * SUM(k)), 6) AS mean_surprisal
FROM dk JOIN priced USING (w1, w2)
GROUP BY 1 ORDER BY 1
"""


def qa_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier screening (``quality.mad_outlier_report``): orders
    more than 5 MADs from their status-group median price — the
    breakdown-resistant gate; exact because cents-median arithmetic
    stays on binary-exact halves/quarters."""
    o = load_table(spark, sf, "orders").select(
        "o_orderstatus", SC.cents(F.col("o_totalprice")).alias("price_c")
    )
    return quality.mad_outlier_report(o, ["o_orderstatus"], "price_c", k=5)


_QA_MAD_SQL = """
WITH o AS (
  SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders
),
med AS (
  SELECT o_orderstatus, median(price_c) AS m, COUNT(*)::BIGINT AS n_rows
  FROM o GROUP BY 1
),
dev AS (
  SELECT o.o_orderstatus, abs(price_c - m) AS d, m, n_rows
  FROM o JOIN med USING (o_orderstatus)
),
mad AS (SELECT o_orderstatus, median(d) AS md FROM dev GROUP BY 1)
SELECT o_orderstatus,
       MAX(n_rows)::BIGINT AS n_rows,
       MAX(m) AS median_val,
       MAX(md) AS mad_val,
       SUM(CASE WHEN d > 5 * md THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM dev JOIN mad USING (o_orderstatus)
GROUP BY 1 ORDER BY 1
"""


def o12_apply_changes(spark: SparkSession, sf: str) -> DataFrame:
    """CDC apply (``merge.apply_changes``): a deterministic synthetic
    change batch — two update generations, deletes, and inserts, with
    per-key collisions — collapses to its net effect (highest seq wins)
    and applies to the supplier table in one target scan. The reference's
    ON CONFLICT upsert extended with ordering and deletes."""
    sup = load_table(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")

    def chg(pred, key, name, seq, op):
        return sup.filter(pred).select(
            key.alias("s_suppkey"),
            name.alias("s_name"),
            F.col("s_nationkey"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    k = F.col("s_suppkey")
    changes = (
        chg(k % 10 == 0, k, F.concat(F.lit("upd1-"), k.cast("string")), 1, "U")
        .unionByName(chg(k % 20 == 0, k, F.concat(F.lit("upd2-"), k.cast("string")), 2, "U"))
        .unionByName(chg(k % 17 == 0, k, F.col("s_name"), 3, "D"))
        .unionByName(
            chg(k <= 5, k + 1000, F.concat(F.lit("new-"), (k + 1000).cast("string")), 1, "I")
        )
    )
    return merge.apply_changes(sup, changes, ["s_suppkey"], "seq").orderBy("s_suppkey")


_O12_CDC_SQL = """
WITH sup AS (SELECT s_suppkey, s_name, s_nationkey FROM supplier),
changes AS (
  SELECT s_suppkey, 'upd1-' || s_suppkey AS s_name, s_nationkey, 1 AS seq, 'U' AS op
  FROM sup WHERE s_suppkey % 10 = 0
  UNION ALL
  SELECT s_suppkey, 'upd2-' || s_suppkey, s_nationkey, 2, 'U' FROM sup WHERE s_suppkey % 20 = 0
  UNION ALL
  SELECT s_suppkey, s_name, s_nationkey, 3, 'D' FROM sup WHERE s_suppkey % 17 = 0
  UNION ALL
  SELECT s_suppkey + 1000, 'new-' || (s_suppkey + 1000), s_nationkey, 1, 'I'
  FROM sup WHERE s_suppkey <= 5
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY s_suppkey ORDER BY seq DESC) AS rn FROM changes
  ) WHERE rn = 1
),
kept AS (
  SELECT s.* FROM sup s LEFT JOIN latest l ON s.s_suppkey = l.s_suppkey
  WHERE l.s_suppkey IS NULL
)
SELECT s_suppkey, s_name, s_nationkey FROM kept
UNION ALL
SELECT s_suppkey, s_name, s_nationkey FROM latest WHERE op <> 'D'
ORDER BY s_suppkey
"""


def gr_label_prop(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-supervised label propagation (``graph.label_propagation``):
    25% of customers arrive seeded with their market segment; three
    rounds of deterministic majority voting spread segments across the
    customer↔supplier co-transaction graph — the sparse-annotation
    imputation pass (language/license/quality tiers) at corpus scale.
    Iterative like PageRank, and like it fully oracle-checked via
    unrolled rounds (integer votes, (count desc, label asc) tie-break).
    The fixed point comes from the family-shared cached build
    (``plans/graph_edges.cotx_labels`` — gr_modularity and
    gr_conductance iterate the identical propagation)."""
    from movie_data_etl_pipeline_spark.plans.graph_edges import cotx_labels

    out = cotx_labels(spark, sf)
    return out.filter(F.col("label").isNotNull()).orderBy("node")


def _lp_round_sql(prev: str, out: str) -> str:
    return f"""
v_{out} AS (
  SELECT sym.src, l.label AS nl, COUNT(*)::BIGINT AS cnt
  FROM sym JOIN {prev} l ON l.node = sym.dst AND l.label IS NOT NULL
  GROUP BY 1, 2
),
b_{out} AS (
  SELECT src AS node, nl AS best FROM (
    SELECT src, nl, row_number() OVER (PARTITION BY src ORDER BY cnt DESC, nl ASC) AS rn
    FROM v_{out}
  ) WHERE rn = 1
),
{out} AS (
  SELECT n.node, COALESCE(s.label, b.best, p.label) AS label
  FROM nodes n
  LEFT JOIN seeds s USING (node)
  LEFT JOIN b_{out} b USING (node)
  LEFT JOIN {prev} p USING (node)
)"""


_GR_LABELPROP_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c_node, l_suppkey * 2 + 1 AS s_node
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
sym AS (
  SELECT c_node AS src, s_node AS dst FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM sym),
seeds AS (
  SELECT c_custkey * 2 AS node, c_mktsegment AS label
  FROM customer WHERE c_custkey % 4 = 0
),
l0 AS (SELECT n.node, s.label FROM nodes n LEFT JOIN seeds s USING (node)),
{_lp_round_sql('l0', 'l1')},
{_lp_round_sql('l1', 'l2')},
{_lp_round_sql('l2', 'l3')}
SELECT node, label FROM l3 WHERE label IS NOT NULL ORDER BY node
"""


def fp_token_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent co-occurring token pairs with lift (a-priori passes 1-2,
    ``text_analysis.frequent_token_pairs``): the market-basket shape
    over documents, quadratic fan-out tamed by the support prune."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.frequent_token_pairs(docs, min_support=100)


_FP_PAIRS_SQL = r"""
WITH dt AS (
  SELECT DISTINCT doc_id AS id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
  FROM documents
),
nd AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n FROM documents),
freq AS (
  SELECT tok, COUNT(*)::BIGINT AS n_tok FROM dt GROUP BY 1 HAVING COUNT(*) >= 100
),
filtered AS (SELECT dt.id, dt.tok, freq.n_tok FROM dt JOIN freq USING (tok)),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.n_tok AS n_a, b.n_tok AS n_b,
         COUNT(*)::BIGINT AS n_ab
  FROM filtered a JOIN filtered b ON a.id = b.id AND a.tok < b.tok
  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 100
)
SELECT tok_a, tok_b, n_ab,
       ROUND((n_ab * n) / (n_a * n_b), 6) AS lift
FROM pairs CROSS JOIN nd
"""


def emb_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """JL random projection 64→16 dims (``similarity.random_projection``):
    Rademacher ±1 rows over 2^20-quantized components — map-only, int64-
    exact, the byte-shrinking pre-step for ANN at scale. Query scoped to
    vec_id < 50 (the ANN query set)."""
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 50)
    return similarity.random_projection(emb, dim=64, out_dim=16)


_EMB_RP_SQL = f"""
WITH q AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) for x in embedding] AS q
  FROM embeddings WHERE vec_id < 50
)
SELECT vec_id, j - 1 AS j,
       CAST(list_sum([{ph.sql_rademacher_sign('(j-1)*64 + i - 1')} * q[i]
                      for i in range(1, 65)]) AS BIGINT) AS y
FROM q, range(1, 17) r(j)
"""


def ap_quantile_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile sketch (``sketches.histogram_profile`` family):
    per-nation integer-histogram states over order totals (cents), rolled
    up to region by summing bin counts, then p50/p90/p99 left-edge
    estimates — every step int64-exact, so unlike t-digest/KLL the whole
    sketch path is value-checked by the oracle. ±1-bin error bound vs
    exact quantiles asserted in tests."""
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    base = (
        orders.select("o_custkey", SC.cents(F.col("o_totalprice")).alias("tc"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "n_name", "tc")
    )
    profile = sketches.histogram_profile(
        base, ["r_name", "n_name"], "tc", lo=0, hi=60_000_000, n_bins=4096
    )
    rolled = sketches.histogram_rollup(profile, ["r_name"])
    return sketches.histogram_quantiles(
        rolled,
        ["r_name"],
        [("p50_cents", 1, 2), ("p90_cents", 9, 10), ("p99_cents", 99, 100)],
        lo=0,
        hi=60_000_000,
        n_bins=4096,
    )


_AP_QROLLUP_SQL = """
WITH base AS (
  SELECT r_name, CAST(round(o_totalprice * 100) AS BIGINT) AS tc
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
prof AS (
  SELECT r_name,
         least(4095, greatest(0, (tc * 4096) // 60000000)) AS bin,
         COUNT(*)::BIGINT AS cnt
  FROM base GROUP BY 1, 2
),
cum AS (
  SELECT r_name, bin, cnt,
         SUM(cnt) OVER (PARTITION BY r_name ORDER BY bin
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         SUM(cnt) OVER (PARTITION BY r_name)::BIGINT AS total
  FROM prof
)
SELECT r_name,
       MAX(total)::BIGINT AS n_rows,
       (MIN(CASE WHEN cum * 2 >= 1 * total THEN bin END) * 60000000 // 4096)::BIGINT AS p50_cents,
       (MIN(CASE WHEN cum * 10 >= 9 * total THEN bin END) * 60000000 // 4096)::BIGINT AS p90_cents,
       (MIN(CASE WHEN cum * 100 >= 99 * total THEN bin END) * 60000000 // 4096)::BIGINT AS p99_cents
FROM cum GROUP BY r_name ORDER BY r_name
"""


def pit_topk_events(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time top-3 feature join (``joins.point_in_time_topk``):
    for every purchase, the user's 3 latest non-purchase events within a
    7-day lookback — the leakage-free "features as of event time" shape
    a feature store serves for training. One hash exchange + horizon-
    bounded window, no join fan-out; deterministic (ts, event_id)
    tie-break."""
    ev = load_table(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return joins.point_in_time_topk(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts", right_seq="event_id", k=3
    )


_PIT_TOPK_SQL = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT event_id AS ctx_id, user_id, event_type AS ctx_type, ts AS ctx_ts
  FROM events WHERE event_type <> 'purchase'
),
j AS (
  SELECT l.event_id, l.user_id, l.ts, r.ctx_ts, r.ctx_id, r.ctx_type,
         row_number() OVER (
           PARTITION BY l.event_id
           ORDER BY epoch_us(r.ctx_ts) DESC, r.ctx_id DESC
         ) AS pit_rank
  FROM l JOIN r ON r.user_id = l.user_id
   AND epoch_us(r.ctx_ts) BETWEEN epoch_us(l.ts) - 604800000000 AND epoch_us(l.ts)
)
SELECT event_id, user_id, ts, pit_rank,
       ctx_ts AS ts_r, ctx_id AS event_id_r, ctx_type AS event_type_r
FROM j WHERE pit_rank <= 3
"""


def tx_source_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source distribution drift vs the whole corpus: exact-rational
    total-variation distance + 2^-20-quantized KL divergence
    (``text_analysis.source_divergence``) — the new-source acceptance
    gate for a training-data mixture."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.source_divergence(docs)


_TX_SRCDIV_SQL = r"""
WITH toks AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
  FROM documents
),
st AS (SELECT source, tok, COUNT(*)::BIGINT AS c_s FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, SUM(c_s)::BIGINT AS c FROM st GROUP BY 1),
s_tot AS (SELECT source, SUM(c_s)::BIGINT AS t_s FROM st GROUP BY 1),
total AS (SELECT SUM(c)::BIGINT AS t FROM vocab),
joined AS (
  SELECT st.source, t_s, t, c, c_s,
         abs(c_s*t - c*t_s) AS tv_term,
         c_s * CAST(floor(ln(CAST(c_s*t AS DOUBLE) / CAST(c*t_s AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS kl_term
  FROM st JOIN vocab USING (tok) JOIN s_tot USING (source) CROSS JOIN total
),
g AS (
  SELECT source, t_s, t,
         SUM(tv_term)::BIGINT AS tv_present,
         SUM(c)::BIGINT AS c_covered,
         SUM(kl_term)::BIGINT AS kl_q
  FROM joined GROUP BY 1, 2, 3
)
SELECT source, t_s AS n_tokens,
       ROUND((tv_present + t_s*(t - c_covered)) / (2.0 * t_s * t), 6) AS tv_dist,
       ROUND(kl_q / (1048576.0 * t_s), 6) AS kl_nats
FROM g ORDER BY source
"""


def dd_minhash_incr_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (batch-vs-indexed-corpus) MinHash banding over the
    portable hash family: same batch split as ``dd_minhash_incremental``
    (doc_id % 10 == 0 arrives, rest indexed) with a full value-checked
    oracle — the incremental indexing path's collisions are hash-proved,
    not just property-tested. Corpus/batch shingle sets and batch
    banding are id-filters over the family-shared cached builds
    (row-local shingling/banding commutes with the id filter; the
    all-side index is the full cached index verbatim)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import (
        portable_banded_index,
        portable_shingle_sets,
    )

    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    sets = portable_shingle_sets(spark, sf)
    banded = portable_banded_index(spark, sf)
    return dedup.incremental_minhash_pairs_portable(
        corpus, batch,
        sh_c=sets.where(F.col("id") % 10 != 0),
        sh_b=sets.where(F.col("id") % 10 == 0),
        banded_b=banded.where(F.col("id") % 10 == 0),
        banded_all=banded,
    )


def dd_simhash_portable(spark: SparkSession, sf: str) -> DataFrame:
    """28-bit SimHash over the portable token hash: same pigeonhole
    4×7-bit chunk-join candidates + ``bit_count(xor)`` verify as
    ``dd_simhash``, value-checked by the DuckDB oracle."""
    docs = load_table(spark, sf, "documents")
    return dedup.simhash_near_dup_pairs_portable(docs, max_hamming=3, chunks=4, bits=28)


_DD_SIMHASH_PORT_SQL = rf"""
WITH toks AS (
  SELECT doc_id AS id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
  FROM documents
),
th AS (SELECT id, {ph.sql_str_hash('tok')} AS h FROM toks),
votes AS (
  SELECT id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, range(0, 28) r(b) GROUP BY 1, 2
),
sim AS (
  SELECT id, CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS simhash
  FROM votes GROUP BY 1
),
chunked AS (
  SELECT id, simhash, c, (simhash >> (c * 7)) & 127 AS chunk FROM sim, range(0, 4) r(c)
),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM chunked a JOIN chunked b ON a.c = b.c AND a.chunk = b.chunk AND a.id < b.id
)
SELECT a_id, b_id, bit_count(xor(sa.simhash, sb.simhash)) AS hamming
FROM cand JOIN sim sa ON sa.id = a_id JOIN sim sb ON sb.id = b_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# Similarity search extensions
# ---------------------------------------------------------------------------


def sim_knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < 50) against the
    full corpus — the correctness baseline for ANN variants."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.knn_bruteforce(emb.filter(F.col("vec_id") < 50), emb, k=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
    )


_SIM_KNN_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 50),
s AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         list_dot_product(qe, v.e)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(v.e, v.e))) AS raw
  FROM q, v WHERE v.vec_id <> query_id
)
SELECT query_id, neighbor_id, ROUND(raw, 6) AS score,
       row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, neighbor_id ASC) AS rank
FROM s
QUALIFY rank <= 5
"""


def sim_knn_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-5 self-join via random-hyperplane LSH buckets +
    exact re-rank — the 100 TB path (no crossJoin). Approximate recall →
    rows-only check; ``sim_knn_bruteforce`` is the exact twin."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.knn_lsh(emb, dim=64, k=5, n_planes=10, n_tables=6)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
    )


def sim_knn_portable(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane LSH top-5 with engine-portable arithmetic: Rademacher
    sign planes + int64-quantized dot products (``similarity.
    knn_hyperplane_portable``) — same multi-table bucket-join plan as
    ``sim_knn_lsh`` but with a full value-checked DuckDB oracle (which
    candidate pairs collide AND their exact integer scores)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.knn_hyperplane_portable(emb, dim=64, k=5, n_planes=32, n_tables=4)


_SIM_KNN_PORT_SQL = f"""
WITH q AS (
  SELECT vec_id AS id,
         [CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) for x in embedding] AS q
  FROM embeddings
),
bits AS (
  SELECT id, q,
         [CASE WHEN list_sum([{ph.sql_rademacher_sign('p*64 + i - 1')} * q[i]
                              for i in range(1, 65)]) >= 0
               THEN 1::BIGINT ELSE 0::BIGINT END
          for p in range(0, 32)] AS bits
  FROM q
),
buckets AS (
  SELECT id, q, t AS tbl,
         list_reduce(list_prepend(0::BIGINT, list_slice(bits, t*8 + 1, t*8 + 8)),
                     (acc, b) -> acc*2 + b) AS bucket
  FROM bits, range(0, 4) r(t)
),
cand AS (
  SELECT DISTINCT a.id AS query_id, b.id AS neighbor_id
  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum([qa.q[i] * qb.q[i] for i in range(1, 65)]) AS BIGINT) AS qdot
  FROM cand JOIN q qa ON qa.id = query_id JOIN q qb ON qb.id = neighbor_id
)
SELECT query_id, neighbor_id, qdot, nn_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS nn_rank
  FROM scored
)
WHERE nn_rank <= 5
"""


def sim_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH candidates + exact
    verify). Rows-only check (approximate recall).

    Threshold 0.45 with 6 planes × 12 tables: the fixture embeddings'
    max pairwise cosine is ~0.51 (measured), so a production-style 0.9
    threshold matches nothing — the query is tuned to the regime the
    data actually has (per-plane collision prob at cos 0.45 ≈ 0.65 →
    table hit ≈ 0.65⁶ ≈ 0.08 → 12-table recall ≈ 1-(1-0.08)¹² ≈ 0.63)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, dim=64, threshold=0.45, n_planes=6, n_tables=12
    )


def sim_knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-5 self-join via IVF coarse quantization (seeded
    KMeans cells, 5-of-16 probe) + exact re-rank — the second scale path
    beside LSH. Centroid-dependent output → rows-only check;
    ``sim_knn_bruteforce`` is the exact twin (recall asserted in
    tests)."""
    emb = load_table(spark, sf, "embeddings")
    out = similarity.knn_ivf(emb, dim=64, k=5, n_cells=16, n_probe=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# Beyond-equi joins — as-of (temporal) and range (band) joins
# ---------------------------------------------------------------------------


def aj_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join: every click event annotated with the latest
    preceding error event of the same user (union-tag + window plan —
    one shuffle, no range-join row blowup; ``operators/joins.asof_join``).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    events = load_table(spark, sf, "events")
    clicks = events.filter(F.col("event_type") == "click")
    errors = events.filter(F.col("event_type") == "error")
    out = joins.asof_join(
        clicks, errors, on=["user_id"], left_ts="ts", right_ts="ts", right_cols=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("value_r").alias("err_value"),
        (F.unix_micros("ts") - F.unix_micros("ts_r")).alias("gap_us"),
    )


_AJ_SQL = """
SELECT c.event_id, c.user_id, e.value AS err_value,
       CAST(epoch_us(c.ts) - epoch_us(e.ts) AS BIGINT) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id AND c.ts >= e.ts
"""


_VALUE_BANDS = [
    ("micro", 0.0, 5.0),
    ("small", 5.0, 20.0),
    ("medium", 20.0, 60.0),
    ("large", 60.0, 150.0),
    ("huge", 150.0, 500.0),
]


def rj_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range (band) join: events bucketed into non-uniform value bands
    via the binned equality pre-join (``operators/joins.range_join_binned``,
    bin width 20) — no nested-loop join in the plan. Exact money math in
    cents."""
    events = load_table(spark, sf, "events")
    bands = spark.createDataFrame(_VALUE_BANDS, "band string, lo double, hi double")
    joined = joins.range_join_binned(events, bands, "value", "lo", "hi", bin_width=20.0)
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            SC.money_from_cents(F.sum(SC.cents("value"))).alias("total_value"),
        )
        .orderBy("band")
    )


_RJ_SQL = """
WITH bands(band, lo, hi) AS (VALUES
  ('micro', 0.0, 5.0), ('small', 5.0, 20.0), ('medium', 20.0, 60.0),
  ('large', 60.0, 150.0), ('huge', 150.0, 500.0))
SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band ORDER BY b.band
"""


# ---------------------------------------------------------------------------
# Streaming extensions — batch-form window aggregations (oracle-checkable;
# the readStream + watermark variants live in streaming.windows and tests)
# ---------------------------------------------------------------------------


def st_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, sf, "events")
    return SW.tumbling_counts(events, width="1 hour")


_ST_TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0 AS avg_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def st_sliding(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, sf, "events")
    return SW.sliding_counts(events, width="1 hour", slide="30 minutes")


def st_sliding_oracle_sql(width_minutes: int, slide_minutes: int) -> str:
    """DuckDB rendering of Spark's sliding-window expansion for ANY
    width/slide ratio: each event is replicated into the
    ``ceil(width/slide)`` candidate windows ending at or after its
    slide bucket, then filtered to true membership
    (``w_start <= ts < w_start + width`` — the filter is what makes
    non-divisible ratios correct, where the last candidate window can
    miss late-in-bucket events)."""
    import math

    k = math.ceil(width_minutes / slide_minutes)
    vals = ", ".join(f"({i})" for i in range(k))
    return f"""
WITH expanded AS (
  SELECT e.*, time_bucket(INTERVAL '{slide_minutes} minutes', ts)
              - k.k * INTERVAL '{slide_minutes} minutes' AS w_start
  FROM events e CROSS JOIN (VALUES {vals}) AS k(k)
)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(w_start + INTERVAL '{width_minutes} minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM expanded
WHERE ts >= w_start AND ts < w_start + INTERVAL '{width_minutes} minutes'
GROUP BY 1, 2, 3 ORDER BY window_start, event_type
"""


_ST_SLIDING_SQL = st_sliding_oracle_sql(60, 30)


def st_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, sf, "events")
    return SW.sessionize(events, gap_minutes=30)


_ST_SESSION_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS nf
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT *, CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM e
)
SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS session_value
FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# Sketch / approximate aggregates
# ---------------------------------------------------------------------------


def ap_exact_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated quantiles per event type, computed over
    integer cents so the interpolation arithmetic (binary-exact .25/.5
    fractions of longs) is engine-independent — the oracle-checkable
    twin of the sketch query below."""
    events = load_table(spark, sf, "events")
    pc = F.percentile(SC.cents("value"), F.array(F.lit(0.5), F.lit(0.95)))
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pc.alias("__pc"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.element_at("__pc", 1) / 100.0, 2).alias("p50"),
            F.round(F.element_at("__pc", 2) / 100.0, 2).alias("p95"),
        )
        .orderBy("event_type")
    )


_AP_QUANT_SQL = """
WITH c AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(vc, 0.5) / 100.0, 2) AS p50,
       ROUND(quantile_cont(vc, 0.95) / 100.0, 2) AS p95
FROM c GROUP BY event_type ORDER BY event_type
"""


def ap_approx_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch aggregates — HyperLogLog++ distinct users and a
    quantile-sketch median per event type. Sketch outputs are
    implementation-defined → rows-only check; error bounds vs the exact
    twins are asserted in tests (``test_sketches.py``). At 100 TB these
    are THE way to profile: fixed-size state, one pass, mergeable
    across partitions."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Multimodal extensions
# ---------------------------------------------------------------------------


def mm_asset_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only size profile over the synthesized asset table —
    the cheap pre-decode scan path."""
    assets = multimodal.synthesize_assets(load_table(spark, sf, "documents"))
    return mm_cast(multimodal.asset_stats(assets))


def mm_cast(df: DataFrame) -> DataFrame:
    return df.select(
        "media_type",
        F.col("n_assets").cast("long").alias("n_assets"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        "avg_bytes",
        F.col("max_bytes").cast("long").alias("max_bytes"),
    )


_MM_STATS_SQL = """
SELECT 'image' AS media_type, CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(SUM(octet_length(encode(text))) AS DOUBLE) / COUNT(*) AS avg_bytes,
       CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents
"""


def mm_features(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched feature extraction (mapInPandas over binary
    payloads) reduced to a checkable profile. The decode kernel is the
    deterministic fake (sha256 expansion), which DuckDB can replicate
    byte-for-byte — so the whole Arrow pipeline (payload synthesis →
    mapInPandas decode → array fold) is value-hash-checked, not just
    rows-only."""
    assets = multimodal.synthesize_assets(load_table(spark, sf, "documents"))
    feats = multimodal.extract_features(assets, dim=16)
    return feats.select(
        "asset_id",
        F.col("feat_dim").cast("long").alias("feat_dim"),
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 6).alias(
            "feat_sum"
        ),
    )


# decode_fake(payload, 16) = first 16 bytes of sha256(payload || be32(0)),
# each /255.0 (operators/multimodal.py:96). payload is the utf-8 text, the
# counter suffix is four NUL bytes, and dim=16 needs only one hash round —
# all expressible in DuckDB: sha256 the text + chr(0)*4, split the hex
# digest into byte pairs, sum the first 16. The per-byte value must
# round-trip through FLOAT (FEATURE_SCHEMA stores array<float>; the
# float32 quantization of b/255.0 is ~1e-8 per element, visible at the
# 6-decimal rounding) before the double-precision sum.
_MM_FEATURES_SQL = """
WITH h AS (
  SELECT doc_id AS asset_id, sha256(text || repeat(chr(0), 4)) AS hx
  FROM documents
)
SELECT asset_id,
       CAST(16 AS BIGINT) AS feat_dim,
       round(SUM(CAST(CAST(CAST(('0x' || substring(hx, CAST(i AS INT) * 2 + 1, 2)) AS INT) / 255.0 AS FLOAT) AS DOUBLE)), 6) AS feat_sum
FROM h, LATERAL unnest(range(0, 16)) AS g(i)
GROUP BY asset_id
"""


def mm_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame sampling: metadata-driven explode into per-frame
    rows (1 frame/s over a 10 ms-per-byte synthetic duration), profiled
    per asset. Pure JVM arithmetic → exact DuckDB oracle via
    generate_series."""
    assets = multimodal.synthesize_assets(load_table(spark, sf, "documents"), media_type="video")
    frames = multimodal.sample_frames(assets, every_ms=1000)
    return (
        frames.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").alias("last_frame_ms"),
        )
        .orderBy("asset_id")
    )


_MM_FRAMES_SQL = """
WITH v AS (SELECT doc_id AS asset_id, strlen(text) * 10 AS dur FROM documents),
f AS (SELECT asset_id, unnest(generate_series(0, dur, 1000)) AS frame_ts_ms FROM v)
SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(MAX(frame_ts_ms) AS BIGINT) AS last_frame_ms
FROM f GROUP BY asset_id ORDER BY asset_id
"""


# ---------------------------------------------------------------------------
# Engine surface beyond the reference (SURVEY.md §2.9 notes the reference
# has no outer joins / windows / set ops / grouping sets — a complete
# analytics engine needs them, so they are first-class, oracle-checked)
# ---------------------------------------------------------------------------

_BIG = 300_000.0  # "big order" threshold: makes outer/anti paths non-trivial


def j5_left_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER join + aggregate with null-group semantics: big-order
    count per customer, 0 for customers with none."""
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > _BIG)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
        .orderBy(F.desc("n_big_orders"), F.asc("c_custkey"))
    )


_J5_SQL = f"""
SELECT c_custkey, c_name, CAST(COUNT(o_orderkey) AS BIGINT) AS n_big_orders
FROM customer LEFT OUTER JOIN (
  SELECT * FROM orders WHERE o_totalprice > {_BIG}
) big ON big.o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY n_big_orders DESC, c_custkey ASC
"""


def j6_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no big orders — the moral
    half of the reference's ON CONFLICT test (SURVEY.md §2.4 note)."""
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > _BIG)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).orderBy("c_custkey")


_J6_SQL = f"""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > {_BIG}
)
ORDER BY c_custkey
"""


def j7_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers with at least one big order."""
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > _BIG)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).orderBy("c_custkey")


_J7_SQL = f"""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > {_BIG}
)
ORDER BY c_custkey
"""


def w1_running_total(spark: SparkSession, sf: str) -> DataFrame:
    """Running-sum window (ROWS UNBOUNDED PRECEDING) per supplier over a
    total order — cumulative shipped quantity. Quantities are
    integer-valued so the running sum is emitted exactly as BIGINT."""
    li = load_table(spark, sf, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.asc("l_shipdate"), F.asc("l_orderkey"), F.asc("l_linenumber"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.date_format("l_shipdate", _DATE).alias("ship_date"),
        F.sum("l_quantity").over(w).cast("long").alias("run_qty"),
    )


_W1_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
       CAST(SUM(l_quantity) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_qty
FROM lineitem
"""


def w2_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    """lag() window: per-user value delta between consecutive events
    (exact cents subtraction; NULL for each user's first event)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    vc = SC.cents("value")
    return ev.select(
        "user_id",
        "event_id",
        ((vc - F.lag(vc).over(w)).cast("double") / F.lit(100.0)).alias("delta"),
    )


_W2_SQL = """
SELECT user_id, event_id,
       CAST(CAST(ROUND(value * 100) AS BIGINT)
            - lag(CAST(ROUND(value * 100) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS DOUBLE)
         / 100.0 AS delta
FROM events
"""


def w3_ntile_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """ntile() window: customers bucketed into account-balance
    quartiles within their nation (rank-style window beyond
    row_number/lag), with a per-quartile profile."""
    cust = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            SC.money_from_cents(F.sum(SC.cents("c_acctbal"))).alias("total_balance"),
        )
        .orderBy("c_nationkey", "quartile")
    )


_W3_SQL = """
WITH q AS (
  SELECT c_nationkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
         ntile(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
  FROM customer
)
SELECT c_nationkey, CAST(quartile AS INT) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS total_balance
FROM q GROUP BY c_nationkey, quartile ORDER BY c_nationkey, quartile
"""


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both fact sides + 3-way
    join + grouped revenue + top-10 — the scan→broadcast-join→agg→
    TakeOrdered spine under predicate pushdown (both date filters reach
    the parquet scans; see test_plans)."""
    cutoff = "1998-01-01"
    cust = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
    rev_c = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev_c).cast("double") / F.lit(10000.0)).alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", _DATE).alias("o_orderdate"),
            "o_orderpriority",
            F.round("revenue", 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def g1_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets over (returnflag, linestatus): subtotals and
    grand total with NULL markers."""
    li = load_table(spark, sf, "lineitem").withColumn("__epc", SC.cents("l_extendedprice"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            SC.money_from_cents(F.sum("__epc")).alias("revenue"),
        )
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


_G1_SQL = """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def g2_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets over (orderstatus, orderpriority)."""
    o = load_table(spark, sf, "orders").withColumn("__opc", SC.cents("o_totalprice"))
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            SC.money_from_cents(F.sum("__opc")).alias("total_value"),
        )
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


_G2_SQL = """
SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def pv_pivot_status(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: linestatus values to columns, summed quantity per
    returnflag (values pinned so the output schema is static — the
    scale-safe form; an unpinned pivot runs a distinct scan first)."""
    li = load_table(spark, sf, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return out.select(
        "l_returnflag",
        F.col("O").cast("long").alias("qty_open"),
        F.col("F").cast("long").alias("qty_finished"),
    ).orderBy("l_returnflag")


_PV_SQL = """
SELECT l_returnflag,
       CAST(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS qty_open,
       CAST(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS qty_finished
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def su_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT composition: customer keys classified
    by two derived sets (big-order buyers vs high-balance accounts)."""
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    buyers = (
        orders.filter(F.col("o_totalprice") > _BIG)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    rich = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    both = buyers.intersect(rich).select("c_custkey", F.lit("both").alias("tag"))
    only_buyer = buyers.subtract(rich).select("c_custkey", F.lit("only_buyer").alias("tag"))
    only_rich = rich.subtract(buyers).select("c_custkey", F.lit("only_rich").alias("tag"))
    return both.unionByName(only_buyer).unionByName(only_rich).orderBy("tag", "c_custkey")


_SU_SQL = f"""
WITH buyers AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > {_BIG}
),
rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT c_custkey, 'both' AS tag FROM (SELECT * FROM buyers INTERSECT SELECT * FROM rich)
UNION ALL
SELECT c_custkey, 'only_buyer' AS tag FROM (SELECT * FROM buyers EXCEPT SELECT * FROM rich)
UNION ALL
SELECT c_custkey, 'only_rich' AS tag FROM (SELECT * FROM rich EXCEPT SELECT * FROM buyers)
ORDER BY tag, c_custkey
"""


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary (the canonical scan-heavy
    aggregation): filtered scan → 2-key groupBy → 6 aggregates. Money in
    exact integer units: extendedprice in cents; the discounted price
    needs 4 decimals → an exact integer in 1/10⁶ units, summed as
    DECIMAL so it cannot wrap at large SF (a silent-overflow long sum is
    exactly the kind of 100 TB bug this engine avoids)."""
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    epc = SC.cents("l_extendedprice")
    disc_pct = SC.cents("l_discount")  # discount in 1/100 units
    li = li.withColumn("__epc", epc).withColumn(
        "__disc",
        (epc * (F.lit(10000).cast("long") - disc_pct * 100)).cast("decimal(30,0)"),
    )
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            SC.money_from_cents(F.sum("__epc")).alias("sum_base_price"),
            (F.sum("__disc").cast("double") / F.lit(1000000.0)).alias("sum_disc_price"),
            (F.sum("l_quantity").cast("double") / n).alias("avg_qty"),
            SC.avg_money(F.sum("__epc"), n).alias("avg_price"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
WITH li AS (
  SELECT *, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS epc,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS dpc
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(SUM(epc) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM(epc * (10000 - dpc * 100)) AS DOUBLE) / 1000000.0 AS sum_disc_price,
       CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(epc) AS DOUBLE) / COUNT(*) / 100.0 AS avg_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM li
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def tx_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace vs BPE-ish-pre-tokenizer token counts per document
    (``operators/text_analysis.token_counts``) — the size signals a
    token-budgeted corpus pipeline tracks."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.token_counts(docs)


_TX_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len({_D_TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9])', 1)) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def st_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join, batch twin: clicks ⋈ same-user
    errors within the preceding two hours (``streaming/windows.
    interval_join``; the watermarked streaming form is replay-tested in
    test_streaming)."""
    ev = load_table(spark, sf, "events")
    return SW.interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
        interval_minutes=120,
    )


_ST_IJ_SQL = """
SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts
FROM events c
JOIN events e ON c.user_id = e.user_id
  AND e.ts <= c.ts AND e.ts >= c.ts - INTERVAL 120 MINUTE
WHERE c.event_type = 'click' AND e.event_type = 'error'
ORDER BY c.user_id, click_id, error_id
"""


def st_interval_join_left(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER interval join, batch twin: every click, paired with
    same-user errors in the preceding two hours OR alone with null
    error columns (``streaming/windows.interval_join(how='left')``).
    The outer-emitting watermarked streaming form is exercised against
    the multi-batch synthetic source in test_streaming."""
    ev = load_table(spark, sf, "events")
    return SW.interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
        interval_minutes=120,
        how="left",
    )


# the error-side filter must stay INSIDE the ON clause (a WHERE on
# e.event_type would silently turn the left join back into an inner)
_ST_IJL_SQL = """
SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
  AND e.ts <= c.ts AND e.ts >= c.ts - INTERVAL 120 MINUTE
ORDER BY c.user_id, click_id, error_id
"""


def pv_unpivot_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (melt): the four lineitem measure columns become
    (metric, val) rows — the inverse of ``pv_pivot_status``, a map-side
    row generator (no shuffle at all)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )


_PV_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, CAST(l_quantity AS DOUBLE) AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
"""


def ag_stats_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregate surface: sample stddev/variance, Pearson
    correlation and sample covariance per group. These are inherently
    floating-point (no exact-cents rendering exists for second moments);
    ROUND(x, 4) leaves ~4 orders of magnitude between the rounding grid
    and the ~1e-8 relative error double summation can introduce across
    partition orders, so the oracle hash is stable at any parallelism."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            # + 0.0 canonicalizes IEEE negative zero (a tiny negative
            # covariance rounds to -0.0, which renders differently)
            (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias(
                "covar_disc_tax"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


_AG_STATS_SQL = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
       ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(COVAR_SAMP(l_discount, l_tax), 6) + 0.0 AS covar_disc_tax,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def tx_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality filter): the
    fraction of word-3-gram occurrences that are repeats of an earlier
    3-gram in the same document. Pure per-row array expressions — zero
    shuffles, and the shingle array is built once (``functions.text.
    shingles``, the same zip-with construction the dedup family
    uses)."""
    docs = load_table(spark, sf, "documents")
    sh = TX.shingles("text", 3)
    return docs.select(
        "doc_id",
        F.size(sh).cast("long").alias("n_3grams"),
        F.round(
            F.when(
                F.size(sh) > 0,
                F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("repetition_ratio"),
    )


_TX_REP_SQL = r"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
              ELSE [] END AS grams
  FROM t
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_3grams,
       ROUND(CASE WHEN len(grams) > 0
                  THEN 1.0 - len(list_distinct(grams)) / len(grams)
                  ELSE 0.0 END, 6) AS repetition_ratio
FROM sh
"""


def j8_full_outer_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Full-outer join with coalesced key and zero-fill — per-nation
    customer counts vs (deliberately sparse) supplier counts, so BOTH
    unmatched sides genuinely occur. Two partial aggregates first, then
    the join: at scale you join two small aggregated relations, never
    the raw fact tables."""
    cust = (
        load_table(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        load_table(spark, sf, "supplier")
        .filter(F.col("s_suppkey") < 20)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


_J8_SQL = """
WITH c AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
           FROM customer GROUP BY c_nationkey),
s AS (SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM supplier WHERE s_suppkey < 20 GROUP BY s_nationkey)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
ORDER BY nationkey
"""


def w4_trailing_7d(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE-frame window (vs w1's ROWS frame): per-user trailing-7-day
    event value over event time. A RANGE frame is peer-inclusive — every
    event at the same timestamp sees the same trailing sum, so the
    result is deterministic without a unique tiebreaker (exactly where a
    ROWS frame would be nondeterministic). Spark's rangeBetween needs a
    numeric ordering key → epoch seconds; sums in exact cents."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-7 * 86400, 0)
    )
    return ev.withColumn("__vc", SC.cents("value")).select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS).alias("event_ts"),
        SC.money_from_cents(F.sum("__vc").over(w)).alias("trailing_7d_value"),
    )


_W4_SQL = """
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 100.0 AS trailing_7d_value
FROM events
"""


def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q14-shaped promo-revenue share: date-filtered fact scan ⋈
    broadcast part dimension, conditional aggregation (CASE inside SUM).
    Discounted revenue in exact 1/10⁶-dollar integer units (see
    ``q1_pricing_summary``) so both the numerator and denominator are
    order-independent; the final share is one double division."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-09-01"))
    )
    part = load_table(spark, sf, "part").select("p_partkey", "p_type")
    epc = SC.cents("l_extendedprice")
    disc_units = (epc * (F.lit(10000).cast("long") - SC.cents("l_discount") * 100)).cast(
        "decimal(30,0)"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc_units).otherwise(F.lit(0)))
    total = F.sum(disc_units)
    return j.agg(
        F.round(F.lit(100.0) * promo.cast("double") / total.cast("double"), 6).alias(
            "promo_revenue_pct"
        ),
        (promo.cast("double") / F.lit(1000000.0)).alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_Q14_SQL = """
WITH j AS (
  SELECT p_type,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (10000 - CAST(ROUND(l_discount * 100) AS BIGINT) * 100) AS disc_units
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-09-01 00:00:00'
)
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN disc_units ELSE 0 END) AS DOUBLE)
             / CAST(SUM(disc_units) AS DOUBLE), 6) AS promo_revenue_pct,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN disc_units ELSE 0 END) AS DOUBLE) / 1000000.0
         AS promo_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM j
"""


def px_clean_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship LLM-data composite: language filter → quality floor →
    exact dedup (canonical copy wins) over the planted-duplicate corpus,
    one scan + one shuffle (``text_analysis.clean_corpus``)."""
    return text_analysis.clean_corpus(
        _dup_corpus(spark, sf), min_quality=0.35, keep_langs=("en",)
    )


_PX_CLEAN_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper(text) AS text FROM documents
),
t AS (SELECT doc_id, text, {_D_TOKS} AS toks FROM corpus),
m AS (
  SELECT doc_id, text, toks,
         CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
           / len(toks) AS mean_len,
         len(list_distinct(toks)) / len(toks) AS ttr,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text) AS punct
  FROM t
),
sig AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
              WHEN regexp_matches(text, '[äöüßÄÖÜ]|\\b(der|die|das|und|nicht|ist)\\b') THEN 'de'
              WHEN regexp_matches(text, '[àâçéèêëîïôùûœ]|\\b(le|la|les|est|dans|pour)\\b') THEN 'fr'
              WHEN regexp_matches(text, '[áéíóúñ¿¡]|\\b(el|los|las|es|para|como)\\b') THEN 'es'
              ELSE 'en' END AS predicted_lang,
         ROUND(0.4 * (1.0 - LEAST(ABS(mean_len - 5.0) / 5.0, 1.0))
               + 0.4 * ttr
               + 0.2 * (1.0 - LEAST(punct * 5.0, 1.0)), 6) AS quality,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
         CAST(len(toks) AS BIGINT) AS n_ws_tokens
  FROM m
)
SELECT doc_id, predicted_lang, quality, n_ws_tokens
FROM sig
WHERE predicted_lang = 'en' AND quality >= 0.35
QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint)
"""


def q6_revenue_delta(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q6-shaped forecast-revenue-change: a pure filter+sum over
    the fact table — the canonical predicate-pushdown showcase (all
    three predicates reach the parquet reader; see
    test_plans.test_q6_all_filters_pushed). Revenue = Σ extendedprice ·
    discount computed in exact integer cent·(1/100-discount) units, so
    the sum is order-independent (IEEE double summation is not)."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= F.lit(0.02))
        & (F.col("l_discount") <= F.lit(0.06))
        & (F.col("l_quantity") < F.lit(24))
    )
    rev_units = SC.cents("l_extendedprice") * SC.cents("l_discount")
    return li.agg(
        (F.sum(rev_units).cast("decimal(30,0)").cast("double") / F.lit(10000.0)).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


_Q6_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
              * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


def sq_min_price_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated-subquery shape (TPC-H-Q2 moral: "suppliers charging
    the minimum price for each part"). The idiomatic Spark rendering is
    the *decorrelated* form — a per-part min window and an equality
    filter, one shuffle on the correlation key instead of a re-executed
    subquery per row (exactly the rewrite Catalyst applies to the SQL
    form). Price compared in exact cents; ties all surface (same as the
    correlated SQL)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", SC.cents("l_extendedprice").alias("__epc")
    )
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    w = Window.partitionBy("l_partkey")
    best = (
        li.withColumn("__min_epc", F.min("__epc").over(w))
        .filter(F.col("__epc") == F.col("__min_epc"))
        .select("l_partkey", "l_suppkey", "__epc")
        .distinct()
    )
    return (
        best.join(F.broadcast(supplier), best.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            SC.money_from_cents(F.col("__epc")).alias("min_price"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


_SQ_MIN_SQL = """
SELECT DISTINCT l_partkey AS p_partkey, s_suppkey, s_name,
       CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS DOUBLE) / 100.0 AS min_price
FROM lineitem l JOIN supplier ON s_suppkey = l_suppkey
WHERE CAST(ROUND(l_extendedprice * 100) AS BIGINT) = (
    SELECT MIN(CAST(ROUND(l2.l_extendedprice * 100) AS BIGINT))
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
)
ORDER BY p_partkey, s_suppkey
"""


def fn_scalar_surface(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-function breadth in one shuffle-free projection: string
    (upper/substring/concat_ws/length/regexp_extract), date parts +
    datediff, integer math (modulo, floor), and CASE banding — the
    engine-surface twin of the reference's informal "UDF layer"
    (``02_etl.py:69-82``), every one a JVM Column expression inside a
    single WholeStageCodegen span (no Python, no shuffle)."""
    o = load_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_uc"),
        F.substring("o_orderpriority", 1, 1).alias("pri_digit"),
        F.regexp_extract("o_orderpriority", "^\\d+-(\\w+)", 1).alias("pri_word"),
        F.concat_ws("-", F.lit("C"), F.col("o_custkey").cast("string")).alias("cust_tag"),
        F.length("o_orderpriority").cast("int").alias("pri_len"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
        (F.col("o_orderkey") % F.lit(7)).alias("key_mod7"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("price_band"),
    )


_FN_SCALAR_SQL = """
SELECT o_orderkey,
       UPPER(o_orderstatus) AS status_uc,
       SUBSTRING(o_orderpriority, 1, 1) AS pri_digit,
       REGEXP_EXTRACT(o_orderpriority, '^\\d+-(\\w+)', 1) AS pri_word,
       CONCAT_WS('-', 'C', CAST(o_custkey AS VARCHAR)) AS cust_tag,
       CAST(LENGTH(o_orderpriority) AS INTEGER) AS pri_len,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS order_month,
       CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95,
       o_orderkey % 7 AS key_mod7,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS price_band
FROM orders
"""


def dd_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-run ingest dedup: the corpus-so-far is every third document
    of the dup corpus; the incoming batch is the rest. The batch is
    deduped within itself (min-doc_id representative per fingerprint)
    then anti-joined against the corpus fingerprints — the reference's
    rerun-safe insert-if-absent (``02_etl.py:123-128``) lifted to
    content keys and a persistent corpus
    (``operators/dedup.incremental_dedup``)."""
    fp = _dup_corpus(spark, sf).withColumn("fingerprint", TX.fingerprint("text"))
    seen = fp.filter(F.col("doc_id") % 3 == 0)
    batch = fp.filter(F.col("doc_id") % 3 != 0)
    out = dedup.incremental_dedup(batch, seen, ["fingerprint"], keep_min_of="doc_id")
    return out.select("doc_id", "fingerprint", "lang")


_DD_INCR_SQL = """
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper(text) AS text, lang FROM documents
),
fp AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM corpus
),
batch AS (SELECT * FROM fp WHERE doc_id % 3 <> 0),
fresh AS (
  SELECT doc_id, fingerprint, lang FROM (
    SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id ASC) AS rn
    FROM batch
  ) WHERE rn = 1
)
SELECT doc_id, fingerprint, lang FROM fresh
WHERE NOT EXISTS (
  SELECT 1 FROM fp seen WHERE seen.doc_id % 3 = 0 AND seen.fingerprint = fresh.fingerprint
)
"""


def dd_bloom_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME cross-run dedup as ``dd_incremental``, but the
    seen-fingerprint anti-join goes through the broadcast Bloom
    pre-filter (``operators/bloom.bloom_anti_join``): rows the filter
    proves unseen skip the shuffle, only the maybe-seen sliver is
    verified exactly. Bloom false positives never change the result,
    so the oracle is the plain NOT EXISTS — one truth, two plans."""
    fp = _dup_corpus(spark, sf).withColumn("fingerprint", TX.fingerprint("text"))
    seen = fp.filter(F.col("doc_id") % 3 == 0)
    batch = fp.filter(F.col("doc_id") % 3 != 0)
    fresh = dedup.dedup_exact(batch, ["fingerprint"], "doc_id")
    out = bloom.bloom_anti_join(fresh, seen, "fingerprint", m_bits=1 << 17, k=5)
    return out.select("doc_id", "fingerprint", "lang")


_DD_BLOOM_SQL = _DD_INCR_SQL  # identical semantics; only the plan differs


def sa_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-language quota sample (20 docs/lang) picked by
    md5(doc_id) order — a hard, reproducible, engine-independent quota
    (``operators/topn.stratified_sample_exact``), vs ``sampleBy``'s
    Bernoulli expectation. The per-corpus-slice balancing cut of a
    training-data pipeline."""
    docs = load_table(spark, sf, "documents")
    return topn.stratified_sample_exact(docs, ["lang"], 20, "doc_id").select(
        "doc_id", "lang", "source"
    )


_SA_STRAT_SQL = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 20
"""


# Target mixture for sa_mixture_sample: dyadic fractions (x/16) on
# purpose — they are exact doubles summing to exactly 1.0, so the
# Spark-side normalization is a bit-exact no-op and both engines
# compute identical acceptance rates (a knife-edge rate one ulp off
# could flip a row whose md5-uniform sits next to it).
_MIXTURE_WEIGHTS = {"en": 0.375, "de": 0.1875, "fr": 0.1875, "es": 0.125, "zh": 0.125}


def sa_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Target-mixture corpus resampling
    (``operators/sampling.mixture_sample``): the Pile/DoReMi-style
    domain reweighting step — keep the binding domain whole, hash-thin
    every other domain to its proportional share. Deterministic
    (md5-uniform per doc_id), so the surviving row SET is
    value-hash-checkable."""
    docs = load_table(spark, sf, "documents")
    return sampling.mixture_sample(docs, "lang", _MIXTURE_WEIGHTS, "doc_id").select(
        "doc_id", "lang", "source"
    )


_SA_MIXTURE_SQL = """
WITH w(lang, __w) AS (
  SELECT * FROM (VALUES ('en', 0.375), ('de', 0.1875), ('fr', 0.1875),
                        ('es', 0.125), ('zh', 0.125)) t
),
c AS (SELECT lang, COUNT(*) AS __n FROM documents GROUP BY lang),
f AS (SELECT c.lang, c.__n, w.__w FROM c JOIN w USING (lang)),
cap AS (SELECT MIN(__n / __w) AS __cap FROM f),
r AS (SELECT lang, __w * (SELECT __cap FROM cap) / __n AS __rate FROM f)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        / 281474976710656.0 < r.__rate
ORDER BY d.doc_id
"""


def sa_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment
    (``operators/sampling.hash_split``): membership is a pure function
    of doc_id (salted md5-uniform against cumulative dyadic fraction
    boundaries), so eval sets stay stable as the corpus grows."""
    docs = load_table(spark, sf, "documents")
    return sampling.hash_split(
        docs, "doc_id", {"train": 0.75, "val": 0.125, "test": 0.125}
    ).select("doc_id", "split")


_SA_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN u < 0.75 THEN 'train'
            WHEN u < 0.875 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
           / 281474976710656.0 AS u
  FROM documents
) ORDER BY doc_id
"""


def q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (region→nation→supplier + customer→
    orders→lineitem, with the local-supplier equality c_nationkey =
    s_nationkey) + per-nation revenue. The widest join tree in the
    suite: three dimension sides broadcast (region/nation/supplier),
    the orders date filter pushed to the scan, and one fact-fact
    shuffle on orderkey — the plan shape that must hold at 100 TB."""
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load_table(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_c = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(rev_c).cast("double") / F.lit(10000.0)).alias("rev"))
        .select("n_name", F.round("rev", 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_Q5_SQL = """
SELECT n_name,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated *inequality* — count
    orders per priority that have at least one line item shipped after
    the order date. Extends the reference's join-membership filtering
    (``sql/03_views.sql:11``) to a conditional left-semi join whose
    predicate references both sides. At 100 TB the semi join is the
    right physical form: lineitem never materializes into the output,
    and the o_orderdate range filter prunes the orders scan first."""
    orders = (
        load_table(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q9_nation_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: 5-way join (part⋈lineitem⋈supplier⋈orders⋈
    nation) + profit = revenue − cost, grouped by nation × order year.
    The fixture has no partsupp, so cost is modeled as 80% of
    p_retailprice per unit. All money math stays in integer 10^-4
    dollars until the final division, so the sum is order-independent
    and oracle-exact. Plan posture: part name filter prunes the part
    side before its shuffle join with lineitem; supplier and nation
    broadcast; the only big exchange is lineitem⋈orders on orderkey."""
    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    rev_c4 = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    cost_c4 = F.col("l_quantity").cast("bigint") * SC.cents("p_retailprice") * F.lit(80)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(rev_c4 - cost_c4).cast("double") / F.lit(10000.0), 2).alias("profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


_Q9_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                    - CAST(l_quantity AS BIGINT)
                      * CAST(ROUND(p_retailprice * 100) AS BIGINT) * 80) AS DOUBLE)
             / 10000.0, 2) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
ORDER BY nation ASC, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in one quarter. customer⋈orders⋈lineitem⋈nation with two
    scan-level filters (quarter on orders, returnflag on lineitem),
    revenue in exact integer 10^-4 dollars, then a global top-k that
    compiles to TakeOrderedAndProject (no full sort). c_custkey is in
    the ordering so the limit boundary is deterministic."""
    customer = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = (
        load_table(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    rev_c4 = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # round-half-up done in integer space ((x+50) div 100): engines
        # disagree on ROUND(double, 2) at exact .xx5 boundaries
        .agg(
            SC.money_from_cents(
                F.floor((F.sum(rev_c4) + F.lit(50)) / F.lit(100)).cast("bigint")
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(CAST(FLOOR((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) / 100.0) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count — a
    LEFT OUTER join (so zero-order customers survive with count 0)
    followed by a second aggregation over the first's result. The
    two-level groupBy is the new operator shape here: the first agg
    shuffles on c_custkey, the second on the tiny count domain, which
    AQE coalesces to a handful of partitions at any scale."""
    customer = load_table(spark, sf, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity line items — the
    correlated scalar-average subquery ``l_quantity < 0.2 * AVG(
    l_quantity) per part``. Rewritten multiplication-only so it is
    integer-exact across engines: ``5·qty·cnt < sum_qty``. Spark-first
    decorrelation: the brand filter shrinks part to ~1% before a
    broadcast join; the per-part average is a window over the already
    tiny joined relation, so no second pass over lineitem and no
    self-join — the classic Q17 double-scan disappears."""
    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    qty = F.col("l_quantity").cast("bigint")
    flagged = (
        joined.withColumn("__cnt", F.count(F.lit(1)).over(w))
        .withColumn("__sumq", F.sum(qty).over(w))
        .filter(F.lit(5) * qty * F.col("__cnt") < F.col("__sumq"))
    )
    return flagged.agg(
        F.round(
            F.sum(SC.cents("l_extendedprice")).cast("double") / F.lit(100.0) / F.lit(7.0), 2
        ).alias("avg_yearly")
    )


_Q17_SQL = """
SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / 7.0, 2) AS avg_yearly
FROM (
  SELECT l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey,
       LATERAL (SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                       CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT) AS sumq
                FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey) s
  WHERE p_brand = 'Brand#23'
    AND 5 * CAST(l_quantity AS BIGINT) * s.cnt < s.sumq
) t
"""


def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold, with customer detail — aggregate-then-semijoin. The
    lineitem groupBy produces the qualifying orderkey set *and* the
    total_qty payload in one shuffle; orders then joins that small
    aggregated side (broadcast after AQE sees its size), and customer
    joins last. No HAVING-then-rejoin double scan of lineitem."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", _TS).alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count + balance of above-average
    customers with no recent orders — an uncorrelated scalar subquery
    (global positive-balance average) plus a NOT EXISTS anti-join.
    The average is compared multiplication-only in integer cents
    (``bal_cents · N > S``), so the threshold is bit-exact across
    engines. The one-row aggregate is crossJoin-broadcast to every
    partition; the anti-join shuffles on custkey — at 100 TB the
    filtered orders side is date-pruned before that exchange."""
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    recent = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    thresh = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(SC.cents("c_acctbal")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    bal_c = SC.cents("c_acctbal")
    return (
        customer.crossJoin(F.broadcast(thresh))
        .filter(bal_c * F.col("__n") > F.col("__s"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            SC.money_from_cents(F.sum(bal_c)).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


_Q22_SQL = """
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
FROM customer c, (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
                         CAST(COUNT(*) AS BIGINT) AS n
                  FROM customer WHERE c_acctbal > 0) t
WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * t.n > t.s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def w5_value_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Value-based window functions over a total order: first_value /
    last_value (explicit full frame — the default frame stops at
    CURRENT ROW, a classic trap), percent_rank, and cume_dist per
    nation over suppliers ordered by (acctbal, suppkey). The
    tiebreaker makes every rank deterministic; percent_rank and
    cume_dist are exact rationals k/(n−1) and k/n so they compare
    bit-identically across engines."""
    supplier = load_table(spark, sf, "supplier").select("s_nationkey", "s_suppkey", "s_acctbal")
    order = [F.asc("s_acctbal"), F.asc("s_suppkey")]
    w = Window.partitionBy("s_nationkey").orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return supplier.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.first("s_suppkey").over(w_full).alias("poorest_supp"),
        F.last("s_suppkey").over(w_full).alias("richest_supp"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    ).orderBy("s_nationkey", "s_suppkey")


_W5_SQL = """
SELECT s_nationkey, s_suppkey, s_acctbal,
       FIRST_VALUE(s_suppkey) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest_supp,
       LAST_VALUE(s_suppkey)  OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest_supp,
       ROUND(PERCENT_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey), 9) AS pct_rank,
       ROUND(CUME_DIST()    OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey), 9) AS cume
FROM supplier
ORDER BY s_nationkey, s_suppkey
"""


def ts_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap fill (hypertable-style densification): per-user
    daily event counts with missing days filled as 0 over each user's
    observed [min_day, max_day] span. Spark-first: the day grid is
    ``sequence(min, max, interval 1 day)`` exploded from the per-user
    span aggregate — generated, never stored — then a left join back
    onto the real per-day counts. Both sides are pre-aggregated before
    the join, so the exchange carries one row per user-day, not one
    per event; at 100 TB the grid side is trivially small and
    broadcast-eligible."""
    ev = (
        load_table(spark, sf, "events")
        .filter(F.col("user_id") < 50)
        .select("user_id", F.to_date("ts").alias("d"))
    )
    days = ev.groupBy("user_id", "d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = (
        days.groupBy("user_id")
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("d"),
        )
    )
    return (
        grid.join(days, ["user_id", "d"], "left")
        .select(
            "user_id",
            F.date_format("d", _DATE).alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "day")
    )


_TS_GAPFILL_SQL = """
WITH days AS (
  SELECT user_id, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE user_id < 50 GROUP BY user_id, CAST(ts AS DATE)
), span AS (
  SELECT user_id, MIN(d) AS mn, MAX(d) AS mx FROM days GROUP BY user_id
), grid AS (
  SELECT user_id, CAST(UNNEST(generate_series(CAST(mn AS TIMESTAMP),
                                              CAST(mx AS TIMESTAMP),
                                              INTERVAL 1 DAY)) AS DATE) AS d
  FROM span
)
SELECT g.user_id, STRFTIME(g.d, '%Y-%m-%d') AS day,
       CAST(COALESCE(days.n, 0) AS BIGINT) AS n_events
FROM grid g LEFT JOIN days ON g.user_id = days.user_id AND g.d = days.d
ORDER BY g.user_id, day
"""


def ev_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered event funnel over the events stream: users who viewed,
    then clicked strictly after their first view, then purchased
    strictly after that first qualifying click. Each stage is a
    per-user MIN-timestamp aggregate joined to the next stage's
    filtered scan — the relation shrinks to one row per user *before*
    every join, so at 100 TB each exchange carries user-count rows,
    never event-count rows."""
    ev = load_table(spark, sf, "events").select("user_id", "event_type", "ts")
    first_view = (
        ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        first_view.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
        .crossJoin(first_click.agg(F.count(F.lit(1)).cast("bigint").alias("n_click")))
        .crossJoin(first_purchase.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase")))
    )


_EV_FUNNEL_SQL = """
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase
"""


def ev_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by their first-ever event day,
    counted on each subsequent day-offset they return (offsets 0–7).
    Two aggregations with a join between them — the cohort assignment
    is one row per user, so the join back onto per-user-day activity
    broadcasts the cohort side at any realistic user count, and the
    final agg shuffles on the tiny (cohort_day × offset) domain."""
    ev = load_table(spark, sf, "events").select("user_id", F.to_date("ts").alias("d"))
    cohort = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    active = ev.distinct()
    return (
        active.join(cohort, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_d"))
        .filter(F.col("day_offset") <= 7)
        .groupBy(F.date_format("cohort_d", _DATE).alias("cohort_day"), "day_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("users"))
        .orderBy("cohort_day", "day_offset")
    )


_EV_COHORT_SQL = """
WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
cohort AS (SELECT user_id, MIN(d) AS cohort_d FROM ev GROUP BY user_id)
SELECT STRFTIME(cohort_d, '%Y-%m-%d') AS cohort_day,
       CAST(DATEDIFF('day', cohort_d, d) AS INT) AS day_offset,
       CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS users
FROM ev JOIN cohort ON ev.user_id = cohort.user_id
WHERE DATEDIFF('day', cohort_d, d) <= 7
GROUP BY cohort_d, DATEDIFF('day', cohort_d, d)
ORDER BY cohort_day, day_offset
"""


def ag_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of order totals: 20 buckets of $25k over
    [0, $500k], bucket id computed by integer division in exact cents
    (a portable width_bucket — no engine-specific binning function, no
    float edge ambiguity). One scan, one tiny-domain shuffle; bucket
    edges are emitted as columns so the result is self-describing."""
    width_c = 25_000 * 100
    orders = load_table(spark, sf, "orders").select("o_totalprice")
    bucket = F.least(
        F.floor(SC.cents("o_totalprice") / F.lit(width_c)).cast("int"), F.lit(19)
    ).alias("bucket")
    return (
        orders.select(bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .withColumn("lo", (F.col("bucket") * 25000.0).cast("double"))
        .withColumn("hi", ((F.col("bucket") + 1) * 25000.0).cast("double"))
        .select("bucket", "lo", "hi", "n_orders")
        .orderBy("bucket")
    )


_AG_HIST_SQL = """
SELECT bucket, CAST(bucket * 25000.0 AS DOUBLE) AS lo,
       CAST((bucket + 1) * 25000.0 AS DOUBLE) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM (SELECT CAST(LEAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT) / 2500000), 19) AS INT) AS bucket
      FROM orders) t
GROUP BY bucket
ORDER BY bucket
"""


def o10_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 merge (operators/merge.scd2_apply): history-preserving
    generalization of the reference upsert (``02_etl.py:84-101``) —
    matched open versions are closed at the effective date and a new
    open version appended; no-op changes (tracked values unchanged) are
    detected and skipped, which is what makes replays a fixed point.
    Fixture scenario: every custkey≡0 (mod 3) gets +100 balance
    effective 2021-01-01; custkey≡1 (mod 5) arrives as an unchanged
    (no-op) change row and must NOT produce a version."""
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    current = customer.withColumn("valid_from", F.lit("2020-01-01")).withColumn(
        "valid_to", F.lit(None).cast("string")
    )
    changes = (
        customer.filter((F.col("c_custkey") % 3 == 0) | (F.col("c_custkey") % 5 == 1))
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100).otherwise(
                F.col("c_acctbal")
            ),
        )
    )
    return merge.scd2_apply(
        current, changes, ["c_custkey"], ["c_acctbal"], F.lit("2021-01-01")
    ).orderBy("c_custkey", "valid_from")


_O10_SCD2_SQL = """
SELECT c_custkey, c_acctbal, '2020-01-01' AS valid_from,
       CASE WHEN c_custkey % 3 = 0 THEN '2021-01-01' ELSE NULL END AS valid_to
FROM customer
UNION ALL
SELECT c_custkey, c_acctbal + 100, '2021-01-01', NULL
FROM customer WHERE c_custkey % 3 = 0
ORDER BY c_custkey, valid_from
"""


def q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape — the hardest subquery pattern in the suite:
    per supplier, count multi-supplier orders where THIS supplier
    shipped late (>60 days after order date) and NO other supplier
    did. The textbook form is EXISTS + NOT EXISTS, both correlated to
    the outer lineitem — two extra scans. Spark-first rewrite: one
    lineitem⋈orders pass collapsed to (order, supplier, late) grain,
    then two window aggregates over the order key answer both
    existence tests at once; supplier names broadcast at the end. One
    fact shuffle + one window sort instead of three fact scans."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    late = F.max(
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
        ).otherwise(0)
    )
    per = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late.alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    return (
        per.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


_Q21_SQL = """
WITH os AS (
  SELECT l_suppkey, l_orderkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey, l_orderkey
), w AS (
  SELECT *, COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
            SUM(late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM os
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM w JOIN supplier ON l_suppkey = s_suppkey
WHERE late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def tx_rare_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-relative token rarity — the CCNet-style quality signal a
    training-data pipeline filters on: per document, total tokens,
    tokens whose corpus frequency is ≤2 (hapax/dis legomena), tokens
    outside the deterministic top-1000 vocabulary (ties broken by
    token text), and the rare ratio.

    Scale shape: the top-1000 vocabulary comes from ``orderBy(...)
    .limit(1000)`` — Spark plans that as ``TakeOrderedAndProject``
    (per-partition top-k then a 1000-row driver merge), NOT a global
    window rank, which would funnel the whole distinct-token relation
    (billions of tokens on a web corpus) through one task. Membership
    in that 1000-row set replaces the rank comparison; the per-token
    frequency rides the token-keyed shuffle join (AQE upgrades it to
    broadcast when the vocabulary is actually small)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top_vocab = (
        freq.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(1000)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(freq, "token")
        .join(F.broadcast(top_vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("cnt") <= 2, 1).otherwise(0)).cast("bigint").alias("n_rare"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("bigint").alias("n_oov"),
        )
        .withColumn("rare_ratio", F.col("n_rare").cast("double") / F.col("n_tokens"))
        .orderBy("doc_id")
    )


_TX_RARE_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_D_TOKS}) AS token FROM documents),
freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
vocab AS (SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rk FROM freq)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN rk > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rare_ratio
FROM toks JOIN vocab USING (token)
GROUP BY doc_id
ORDER BY doc_id
"""


def sim_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids via quantized-exact aggregation:
    each float32 component scales by 2^20 (exact in double — 24-bit
    mantissa + 20-bit shift < 53), rounds to integer, and the per-
    (label, dim) sums are order-independent BIGINTs; the final divide
    by count and unscale by a power of two are both exact IEEE steps,
    so the centroid hashes identically on any engine and any partition
    count. posexplode keeps the dim index JVM-side — no Python in the
    path. The shuffle domain is labels × dims, independent of row
    count — this is the aggregation shape for computing per-cluster
    means over 100 TB of embeddings."""
    emb = load_table(spark, sf, "embeddings").select("label", "embedding")
    q = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("qv", F.round(F.col("v").cast("double") * F.lit(1048576)).cast("bigint"))
    return (
        q.groupBy("label", "dim")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim",
            ((F.col("s").cast("double") / F.col("n")) / F.lit(1048576.0)).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


_SIM_CENTROID_SQL = """
SELECT label, CAST(i AS INT) AS dim,
       (CAST(SUM(CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1048576) AS BIGINT)) AS DOUBLE)
        / COUNT(*)) / 1048576.0 AS centroid
FROM embeddings, (SELECT unnest(range(64)) AS i) dims
GROUP BY label, i
ORDER BY label, dim
"""


def inc_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-rollup maintenance
    (operators/incremental.merge_agg_state): the monthly revenue rollup
    is built from TWO partial aggregates (orders before/after 1998)
    merged with the measures' merge functions — and the oracle recomputes
    it directly from the base table, so the hash match *proves* the
    incremental path equals full recomputation. COUNT/SUM merge by
    addition in exact cents; MIN/MAX by min/max. At 100 TB only the
    arriving batch is scanned; the state table lives at rollup grain."""
    from movie_data_etl_pipeline_spark.operators.incremental import merge_agg_state

    orders = load_table(spark, sf, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(SC.cents("o_totalprice")).alias("total_cents"),
            F.min(SC.cents("o_totalprice")).alias("min_cents"),
            F.max(SC.cents("o_totalprice")).alias("max_cents"),
        )

    cutoff = F.lit("1998-01-01").cast("timestamp")
    state = partial(orders.filter(F.col("o_orderdate") < cutoff))
    batch = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = merge_agg_state(
        state,
        batch,
        ["month", "o_orderstatus"],
        sum_cols=["n_orders", "total_cents"],
        min_cols=["min_cents"],
        max_cols=["max_cents"],
    )
    return merged.select(
        "month",
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        SC.money_from_cents(F.col("total_cents")).alias("total_revenue"),
        SC.money_from_cents(F.col("min_cents")).alias("min_price"),
        SC.money_from_cents(F.col("max_cents")).alias("max_price"),
    ).orderBy("month", "o_orderstatus")


_INC_ROLLUP_SQL = """
SELECT STRFTIME(o_orderdate, '%Y-%m') AS month, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue,
       CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS min_price,
       CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS max_price
FROM orders
GROUP BY STRFTIME(o_orderdate, '%Y-%m'), o_orderstatus
ORDER BY month, o_orderstatus
"""


def g3_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond g1 ROLLUP / g2 CUBE): the three
    explicitly chosen levels (flag×status, flag, grand total) — one
    Expand over the input feeding a single aggregate, not three scans.
    The level indicator is derived portably from key nullness (both
    grouping keys are NOT NULL in the data) instead of grouping_id(),
    whose bit convention is engine-specific."""
    li = load_table(spark, sf, "lineitem")
    li.select("l_returnflag", "l_linestatus", "l_quantity").createOrReplaceTempView(
        "__gs_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST((l_returnflag IS NULL) AS INT) * 2
                 + CAST((l_linestatus IS NULL) AS INT) AS level,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY level, l_returnflag, l_linestatus
        """
    )


_G3_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST((l_returnflag IS NULL) AS INT) * 2
         + CAST((l_linestatus IS NULL) AS INT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY level, l_returnflag, l_linestatus
"""


def dd_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate pairs → duplicate GROUPS via connected components
    (operators/dedup.connected_components): the exact n-gram Jaccard
    pairs feed min-label propagation, and the output is one row per
    component with its size and canonical (minimum) member — what a
    dedup pass actually keeps. The oracle twin recomputes components
    with a recursive CTE over the same pair relation, so the iterative
    DataFrame algorithm is hash-verified against a declarative
    fixpoint. Components come from the family-shared cached labeling
    (``plans/doc_pairs.dup_components``)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import dup_components

    comp = dup_components(spark, sf, 0.8)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy("component")
    )


_DD_CLUSTERS_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT a_id, b_id FROM shared
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE n_shared / (sa.n_sh + sb.n_sh - n_shared) >= 0.8
),
sym AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION SELECT b_id, a_id FROM pairs
),
walk AS (  -- reachability closure; components are tiny so this stays small
  SELECT src AS id, dst AS reach FROM sym
  UNION
  SELECT walk.id, sym.dst FROM walk JOIN sym ON walk.reach = sym.src
),
comps AS (
  SELECT id, LEAST(id, MIN(reach)) AS component FROM walk GROUP BY id
)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
FROM comps GROUP BY component ORDER BY component
"""


def q7_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both
    directions, per ship year. The supplier-side and customer-side
    nation lookups are independent broadcast joins onto the fact spine
    (lineitem⋈orders is the only fact-fact shuffle); the disjunctive
    nation-pair filter applies after both lookups. Revenue in exact
    integer 10^-4 dollars."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev_c4 = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), customer.c_nationkey == n2.c_nk)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(rev_c4).cast("double") / F.lit(10000.0)).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev) AS DOUBLE) / 10000.0 AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
     OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of widget revenue per order
    year — a ratio of two conditional sums. Both sums stay exact
    integers until the single final division, so the share is the same
    double on every engine and partition count (no ROUND needed)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    rev_c4 = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_3", rev_c4).otherwise(F.lit(0))).alias("__n"),
            F.sum(rev_c4).alias("__d"),
        )
        .select(
            "o_year",
            (F.col("__n").cast("double") / F.col("__d")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


_Q8_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n_name = 'NATION_3' THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS mkt_share
FROM (
  SELECT o_orderdate, n_name,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) t
GROUP BY EXTRACT(YEAR FROM o_orderdate)
ORDER BY o_year
"""


def q11_value_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value exceeds a fraction of
    the total — a HAVING against an uncorrelated scalar aggregate.
    Compared multiplication-only in exact integers
    (``part_value · 10000 > total``) and the one-row total is broadcast
    by the cross join, so no engine-dependent threshold double ever
    exists."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(F.sum(SC.cents("l_extendedprice")).alias("__v"))
    total = per_part.agg(F.sum("__v").alias("__t"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__v") * F.lit(10000) > F.col("__t"))
        .select("l_partkey", SC.money_from_cents(F.col("__v")).alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


_Q11_SQL = """
SELECT l_partkey,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) * 10000 >
       (SELECT SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) FROM lineitem)
ORDER BY part_value DESC, l_partkey ASC
"""


def q12_priority_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: per line status, how many 1997-shipped line
    items belong to high- vs low-priority orders — dual conditional
    counts (CASE inside SUM) after a fact-fact join whose date filter
    is pushed to the lineitem scan."""
    li = (
        load_table(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue —
    a derived revenue relation consumed twice (once for the scalar MAX,
    once for the equality filter), with ties surfacing exactly as the
    SQL form does. Exact-cents equality makes the tie test portable.
    The revenue aggregate is computed once and cached in the plan via
    the self-consumed DataFrame, not recomputed per row."""
    li = (
        load_table(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    rev_c4 = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    revenue = li.groupBy("l_suppkey").agg(F.sum(rev_c4).alias("__rev"))
    top = revenue.agg(F.max("__rev").alias("__max_rev"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("__rev") == F.col("__max_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("__rev").cast("double") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) / 10000.0 AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT MAX(rev) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per brand, excluding an
    unwanted supplier set via NOT IN → left-anti join (the reference's
    insert-if-absent anti-join, ``02_etl.py:123-128``, used as a query
    operator). The exclusion list is supplier-sized → broadcast anti
    join; the distinct count shuffles once on (brand, suppkey)."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    excluded = (
        load_table(spark, sf, "supplier")
        .filter(F.col("s_name").endswith("7"))
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(excluded),
            li.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"))
    )


_Q16_SQL = """
SELECT p_brand, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand
ORDER BY supplier_cnt DESC, p_brand ASC
"""


def q19_disjunctive_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three brand×quantity
    bands. The optimizer must extract the common ``partkey`` equality
    so the join stays a hash join with the disjunction as a post-join
    filter — never a nested-loop over the OR (plan-tested). One scalar
    output row, exact integer sum until the final division."""
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    q = F.col("l_quantity")
    bands = (
        ((F.col("p_brand") == "Brand#12") & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & (q >= 20) & (q <= 30))
    )
    rev_c4 = SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))
    return (
        li.join(F.broadcast(part), (li.l_partkey == part.p_partkey) & bands)
        .agg((F.sum(rev_c4).cast("double") / F.lit(10000.0)).alias("revenue"))
    )


_Q19_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)
"""


def q20_concentrated_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN subqueries — suppliers for whom some
    widget part's 1996 shipments exceed half that part's all-time
    shipments from them. Decorrelated Spark-first: one pass over the
    widget-filtered lineitem computes both conditional sums per
    (supplier, part) — no per-row subquery, no second lineitem scan —
    then a semi join lifts qualifying suppliers. The half-threshold
    compares ``2·qty96 > qty_total`` in integers."""
    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    supplier = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("bigint")
    per_sp = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in96, qty).otherwise(F.lit(0))).alias("q96"),
            F.sum(qty).alias("qall"),
        )
    )
    qualifying = per_sp.filter(F.lit(2) * F.col("q96") > F.col("qall")).select("l_suppkey")
    return (
        supplier.join(qualifying, supplier.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
  GROUP BY l_suppkey, l_partkey
  HAVING 2 * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                       AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
         > SUM(CAST(l_quantity AS BIGINT))
)
ORDER BY s_suppkey
"""


def tx_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 salient tokens per document by a TF·IDF-style score kept
    in exact rational form: ``tf · N / df`` (term count × corpus size ÷
    document frequency) — one integer product and one final division,
    so no engine-varying logarithm enters the ranking. Ties break on
    token text; the per-doc top-k is a WindowGroupLimit (partial top-N
    before the shuffle). The document-frequency table is
    vocabulary-sized → broadcast; the corpus size is a literal-free
    scalar aggregate cross-joined in."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "token", F.col("rk").cast("int").alias("rk"), "score")
        .orderBy("doc_id", "rk")
    )


_TX_TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_D_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         CAST(tf * n_docs AS DOUBLE) / df AS score
  FROM tf JOIN dfreq USING (token), n
), ranked AS (
  SELECT doc_id, token, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
  FROM scored
)
SELECT doc_id, token, CAST(rk AS INT) AS rk, score
FROM ranked WHERE rk <= 5
ORDER BY doc_id, rk
"""


def tx_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Document chunking via the ChunkText UDTF (LATERAL table
    function): greedy whitespace-respecting segments ≤400 chars — the
    bounded-training-example segmentation step. Oracle-checked: the
    greedy fold is rendered in DuckDB as a RECURSIVE CTE that walks the
    token sequence carrying (chunk_id, cur_len) state; the
    lossless-reassembly and bound invariants are additionally
    pytest-verified on the same corpus."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.chunk_documents(spark, docs, max_chars=400).select(
        "doc_id", "chunk_id", "chunk_chars"
    )


def tx_datacard(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus data-card (``operators/text_analysis.corpus_datacard``):
    per (source, language) volume, duplicate pressure, and length
    shape — the datasheet a training-data release ships. One scan, one
    groupBy."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.corpus_datacard(docs)


_TX_DATACARD_SQL = r"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS BIGINT) AS n_unique,
       round(AVG(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))), 2) AS avg_tokens,
       CAST(MAX(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS max_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS BIGINT) AS n_exact_dups
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


# The UDTF's greedy packing is a sequential fold over tokens — SQL's
# closed form for that is a recursive CTE stepping one token per
# iteration (per doc, in parallel across docs). chunk_chars falls out
# as sum(token lens) + (tokens-1) separators per (doc, chunk).
_TX_CHUNK_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, CAST(g.i AS INT) AS i, len(t.toks[CAST(g.i AS INT)]) AS l
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        FROM documents) t,
       LATERAL unnest(range(1, len(t.toks) + 1)) AS g(i)
  WHERE len(t.toks) > 0
),
walk AS (
  SELECT doc_id, i, l, 0 AS chunk_id, l AS cur_len FROM toks WHERE i = 1
  UNION ALL
  SELECT t.doc_id, t.i, t.l,
         CASE WHEN w.cur_len + 1 + t.l > 400 THEN w.chunk_id + 1 ELSE w.chunk_id END,
         CASE WHEN w.cur_len + 1 + t.l > 400 THEN t.l ELSE w.cur_len + 1 + t.l END
  FROM toks t JOIN walk w ON t.doc_id = w.doc_id AND t.i = w.i + 1
)
SELECT doc_id, chunk_id, CAST(SUM(l) + COUNT(*) - 1 AS INT) AS chunk_chars
FROM walk GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id
"""


def f3_variant_json(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` once into
    a variant column, then typed ``variant_get`` extraction — the
    schema-on-read upgrade over F2's fixed-schema ``from_json`` for
    payloads whose shape drifts. The aggregation groups by a variant-
    extracted field, proving the value participates in shuffles like
    any typed column. Missing paths yield NULL (``try_variant_get``
    semantics match the reference's missing-key→NULL, P4)."""
    events = load_table(spark, sf, "events")
    v = F.parse_json("props")
    return (
        events.select(
            F.variant_get(v, "$.k", "int").alias("k"),
            F.try_variant_get(v, "$.absent", "string").alias("absent"),
            "value",
        )
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("absent").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_absent"),
        )
        .orderBy("k_mod")
    )


_F3_VARIANT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.absent') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_absent
FROM events
GROUP BY CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
ORDER BY k_mod
"""


def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape, complete (region-scoped correlated minimum;
    moral of ``sql/03_views.sql``'s join-membership filtering taken to
    its hardest TPC-H form): for every LARGE-type part, the EUROPE
    suppliers whose offer price equals the *regional* minimum for that
    part. ``lineitem`` stands in for partsupp — supply cost := MIN offer
    in exact integer cents per (part, supplier). Plan: one shuffle
    (the partsupp-style groupBy), region/nation/supplier and part as
    broadcast dims, the correlated subquery decorrelated into a per-part
    window MIN over regional offers only, and the final 4-key ORDER BY +
    LIMIT as TakeOrderedAndProject. The output order is total (acctbal
    ties broken by nation, supplier name, part key), so LIMIT 100 is
    deterministic across engines and partitionings."""
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, sf, "nation")
    supplier = load_table(spark, sf, "supplier")
    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_type") == "LARGE")
        .select("p_partkey", "p_name")
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", SC.cents("l_extendedprice").alias("__epc")
    )
    rn = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    s_reg = supplier.join(
        F.broadcast(rn), supplier.s_nationkey == rn.n_nationkey
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    # The part-type filter commutes below the aggregation (type is a
    # property of the part, so it cannot change any per-part minimum):
    # semi-joining lineitem against the filtered part keys first means
    # the single fact shuffle carries only qualifying parts (~1/6).
    offers = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("__epc").alias("cost_c"))
    )
    reg_offers = offers.join(
        F.broadcast(s_reg), offers.l_suppkey == s_reg.s_suppkey
    )
    w = Window.partitionBy("l_partkey")
    best = reg_offers.withColumn("__min_c", F.min("cost_c").over(w)).filter(
        F.col("cost_c") == F.col("__min_c")
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "s_suppkey",
            SC.money_from_cents(F.col("cost_c")).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_c
  FROM lineitem GROUP BY 1, 2
),
rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
       CAST(cost_c AS DOUBLE) / 100.0 AS supply_cost
FROM ps
JOIN rs ON ps.l_suppkey = rs.s_suppkey
JOIN part ON ps.l_partkey = p_partkey
WHERE p_type = 'LARGE'
  AND cost_c = (
    SELECT MIN(ps2.cost_c)
    FROM ps ps2 JOIN rs rs2 ON ps2.l_suppkey = rs2.s_suppkey
    WHERE ps2.l_partkey = ps.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def dd_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene twin of
    near-dup detection: flag corpus documents sharing 3-gram shingles
    with a held-out benchmark set (here: ``doc_id % 50 == 0``, standing
    in for an eval suite). Per contaminated-candidate doc: its distinct
    shingle count, how many appear anywhere in the benchmark, the
    overlap ratio, and a ≥0.5 contamination flag. Plan: one shingle
    explode over the corpus, the benchmark shingle set deduped and
    broadcast into a left-semi join (no row blowup — membership only),
    one aggregation. At 100 TB the benchmark side stays tiny relative
    to the corpus, so the broadcast semi-join shape holds."""
    docs = load_table(spark, sf, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(TX.shingles("text", 3))).alias("shingle"),
    )
    bench = sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
    corpus = sh.filter(F.col("doc_id") % 50 != 0)
    totals = corpus.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    shared = (
        corpus.join(F.broadcast(bench), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ratio = F.col("n_shared").cast("double") / F.col("n_shingles").cast("double")
    return (
        totals.join(shared, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(ratio, 6).alias("overlap_ratio"),
            (ratio >= 0.5).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_DD_CONTAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
  FROM toks WHERE len(t) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 50 = 0),
corpus AS (SELECT * FROM ex WHERE doc_id % 50 <> 0),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM corpus GROUP BY 1),
shared AS (
  SELECT doc_id AS s_doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM corpus WHERE shingle IN (SELECT shingle FROM bench) GROUP BY 1
)
SELECT t.doc_id, n_shingles, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS overlap_ratio,
       CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.5 AS contaminated
FROM tot t JOIN shared s ON t.doc_id = s.s_doc_id
ORDER BY t.doc_id
"""


def src_paged_api(spark: SparkSession, sf: str) -> DataFrame:
    """The paginated-API scan (S2, ``02_etl.py:50-62``) as a Spark 4
    Python DataSource (``sources/pyds.py``): one task per page, page
    predicates pruned at planning via ``pushFilters``, cross-page
    duplicates resolved by last-wins dedup — the whole reference ingest
    path as ONE declarative plan. Deterministic synthetic transport
    (offline container), so the per-language profile below is stable;
    rows-only check (the generator has no parquet twin). ``sf`` unused:
    the source is page-, not scale-factor-, parameterized."""
    from movie_data_etl_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    raw = (
        spark.read.format("tmdb_pages")
        .option("pages", 10)
        .option("page_size", 20)
        .load()
    )
    deduped = dedup.dedup_last_wins(raw, ["tmdb_movie_id"], [F.desc("page")])
    return (
        deduped.groupBy("original_language")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_movies"),
            F.round(F.avg("vote_average"), 2).alias("avg_rating"),
            F.sum(F.when(F.col("release_date") == "", 1).otherwise(0))
            .cast("bigint")
            .alias("n_unreleased"),
        )
        .orderBy("original_language")
    )


def ev_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Event-transition matrix: counts of (event_type → next event_type)
    per user session stream, via a lag-1 window over (user, time). The
    total order (ts, event_id) makes the successor deterministic even
    under timestamp ties. One window sort shuffled on user_id, one
    tiny-domain aggregation — the Markov-chain input for user-behavior
    modeling, at any event volume."""
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("from_type", "to_type")
    )


_EV_TRANS_SQL = """
SELECT event_type AS from_type, next_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
) t
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
"""


def o11_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """CDC between two order snapshots (``operators/merge.snapshot_diff``
    — the inverse of the reference's ON CONFLICT upserts,
    ``/root/reference/02_etl.py:84-101``): the "old" state is orders
    before 1996-01-01; the "new" state extends to 1996-07-01, drops
    every 7th key (deletes) and bumps every 5th price (updates). One
    full-outer hash join on the key recovers insert/update/delete rows."""
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"
    )
    old = orders.where(F.col("o_orderdate") < "1996-01-01").drop("o_orderdate")
    new = (
        orders.where(
            (F.col("o_orderdate") < "1996-07-01") & (F.col("o_orderkey") % 7 != 0)
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + F.lit(1.0)
            ).otherwise(F.col("o_totalprice")),
        )
        .drop("o_orderdate")
    )
    return merge.snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    ).orderBy("o_orderkey")


_O11_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderdate < TIMESTAMP '1996-01-01'
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders
  WHERE o_orderdate < TIMESTAMP '1996-07-01' AND o_orderkey % 7 <> 0
), d AS (
  SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         CASE WHEN old.o_orderkey IS NULL THEN 'insert'
              WHEN new.o_orderkey IS NULL THEN 'delete'
              WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
                OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
              THEN 'update' END AS op,
         old.o_totalprice AS old_o_totalprice,
         new.o_totalprice AS new_o_totalprice,
         old.o_orderstatus AS old_o_orderstatus,
         new.o_orderstatus AS new_o_orderstatus
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT * FROM d WHERE op IS NOT NULL ORDER BY o_orderkey
"""


def jx_fuzzy_join(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance similarity self-join over distinct part names
    (``operators/joins.fuzzy_self_join_levenshtein``): all name pairs
    within Levenshtein distance 3, candidates from lossless length-band
    blocking instead of crossJoin. Names are first deduplicated (exact
    groupBy) so the quadratic verify runs on distinct values only —
    the fuzzy-entity-resolution shape at corpus scale."""
    names = load_table(spark, sf, "part").select("p_name").distinct()
    return joins.fuzzy_self_join_levenshtein(names, "p_name", max_dist=3).orderBy(
        "a_p_name", "b_p_name"
    )


_JX_FUZZY_SQL = """
WITH n AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS a_p_name, b.p_name AS b_p_name,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM n a JOIN n b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
ORDER BY a_p_name, b_p_name
"""


def hh_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-20 tokens via bounded-shuffle Misra–Gries candidates +
    exact recount (``operators/text_analysis.heavy_hitters``). The
    oracle is plain SQL because the MG bound guarantees the candidate
    set contains every token with count > N/capacity (tests assert the
    k-th count clears that threshold at fixture scale)."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.heavy_hitters(docs, k=20, capacity=256)


_HH_SQL = f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest({_D_TOKS}) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
"""


def fn_hof_surface(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order-function surface (companion to ``fn_scalar_surface``):
    transform / filter / aggregate / exists / forall / array_sort /
    array_distinct / slice over the token array, all lambda expressions
    evaluated inside the JVM (no Python, no explode — zero shuffles,
    one codegen span per row)."""
    docs = load_table(spark, sf, "documents")
    toks = TX.tokens("text")
    lens = F.transform(toks, lambda x: F.length(x))
    return docs.select(
        "doc_id",
        F.aggregate(
            lens, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("sum_token_len"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4))
        .cast("bigint")
        .alias("n_long_tokens"),
        F.array_max(lens).cast("bigint").alias("max_token_len"),
        F.array_position(toks, "data").cast("bigint").alias("pos_data"),
        F.exists(toks, lambda x: x == F.lit("spark")).alias("has_spark"),
        F.forall(toks, lambda x: F.length(x) > 0).alias("all_nonempty"),
        F.concat_ws(
            " ", F.slice(F.array_sort(F.array_distinct(toks)), 1, 3)
        ).alias("top3_alpha"),
    ).orderBy("doc_id")


_FN_HOF_SQL = f"""
WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
SELECT doc_id,
  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT)
    AS sum_token_len,
  CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long_tokens,
  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'max') AS BIGINT)
    AS max_token_len,
  CAST(COALESCE(list_position(toks, 'data'), 0) AS BIGINT) AS pos_data,
  list_contains(toks, 'spark') AS has_spark,
  len(list_filter(toks, x -> length(x) = 0)) = 0 AS all_nonempty,
  array_to_string(list_sort(list_distinct(toks))[1:3], ' ') AS top3_alpha
FROM t ORDER BY doc_id
"""


def ly_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) curve values for lineitem's two join keys
    (``operators/layout.zvalue16``) — the data-layout rendering of the
    reference's pair of FK-side btree indexes
    (``/root/reference/sql/01_schema.sql:64-65``). The interleave is
    pure codegen'd shift/and/or arithmetic, verified bit-for-bit against
    the oracle's SQL rendering of the same magic-mask spreads; the
    clustering path itself (``layout.zorder_layout``) is exercised by
    row-group-statistics tests."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") % 97 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        layout.zvalue16(F.col("l_partkey"), F.col("l_suppkey")).alias("zval"),
    ).orderBy("l_orderkey", "l_linenumber")


_LY_ZORDER_SQL = """
WITH s AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         (l_partkey & 65535) AS x0, (l_suppkey & 65535) AS y0
  FROM lineitem WHERE l_orderkey % 97 = 0
), s1 AS (SELECT *, ((x0 | (x0 << 8)) & 16711935) AS x1,
                    ((y0 | (y0 << 8)) & 16711935) AS y1 FROM s),
   s2 AS (SELECT *, ((x1 | (x1 << 4)) & 252645135) AS x2,
                    ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1),
   s3 AS (SELECT *, ((x2 | (x2 << 2)) & 858993459) AS x3,
                    ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
   s4 AS (SELECT *, ((x3 | (x3 << 1)) & 1431655765) AS x4,
                    ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3)
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST(x4 | (y4 << 1) AS BIGINT) AS zval
FROM s4 ORDER BY l_orderkey, l_linenumber
"""


def tx_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (``operators/text_analysis.pii_scrub``): chained
    ``regexp_replace`` + ``regexp_count`` in one codegen span. The
    fixture corpus has no organic PII, so both sides first append a
    deterministic synthetic tail (an email derived from ``doc_id``, a
    dotted phone, an IPv4) — exercising match, count, and placement of
    every pattern class with nonzero counts."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567 at 10.0.0.1"),
        ).alias("text"),
    )
    return text_analysis.pii_scrub(docs).orderBy("doc_id")


_TX_PII_SQL = """
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567 at 10.0.0.1' AS t0
  FROM documents
),
-- staged counts: each pattern is counted against the text AFTER all
-- earlier patterns were replaced, mirroring pii_scrub's audit
-- invariant (sum of counts == placeholders inserted)
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM aug
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phone,
         regexp_replace(t1, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_phone,
         CAST(len(regexp_extract_all(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
         regexp_replace(t2, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g') AS t3
  FROM s2
)
SELECT doc_id, n_email, n_phone, n_ipv4,
       CAST(len(regexp_extract_all(t3, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
       regexp_replace(t3, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS scrubbed_text
FROM s3 ORDER BY doc_id
"""


def tx_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style span-level exact dedup
    (``operators/text_analysis.span_dedup``): 10-token blocks, global
    first-occurrence keep, per-document reassembly."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.span_dedup(docs, span_tokens=10).orderBy("doc_id")


_TX_SPAN_SQL = f"""
WITH t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM documents
),
spans AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(toks[CAST(i AS INT)*10+1 : CAST(i AS INT)*10+10], ' ') AS span
  FROM t, LATERAL unnest(range(0, CAST(floor((len(toks) - 1) / 10.0) AS BIGINT) + 1)) AS g(i)
  WHERE len(toks) > 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM spans
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans_kept,
       string_agg(span, ' ' ORDER BY pos) AS dedup_text
FROM ranked WHERE rn = 1
GROUP BY doc_id ORDER BY doc_id
"""


def tx_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (``operators/text_analysis.pack_sequences``):
    concatenate-and-cut token bin assignment over the corpus in
    ``doc_id`` order, built on the distributed two-phase prefix sum
    (NOT a single global window — see the operator docstring for the
    100 TB argument). The oracle is the semantically-identical
    single-window form, which DuckDB can afford at fixture scale."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.pack_sequences(docs, budget_tokens=64).orderBy(
        "bin_id", "doc_id"
    )


_TX_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_D_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
  WHERE len({_D_TOKS}) > 0
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM t
)
SELECT CAST(g.i AS BIGINT) AS bin_id, doc_id, n_tokens, "offset",
       CAST(LEAST("offset" + n_tokens, (g.i + 1) * 64)
            - GREATEST("offset", g.i * 64) AS BIGINT) AS bin_tokens
FROM c, LATERAL unnest(range("offset" // 64, ("offset" + n_tokens - 1) // 64 + 1)) AS g(i)
ORDER BY bin_id, doc_id
"""


def qa_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-quality audit (``operators/quality.audit``) —
    the engine rendering of the reference's PostgreSQL constraint set
    (PK/UNIQUE/NOT NULL/FK, ``/root/reference/sql/01_schema.sql:10-58``)
    plus its printed duplicate report (``02_etl.py:233-244``): every
    row-level rule folded into ONE conditional aggregation over a single
    scan of ``orders``, the FK rule one broadcast anti-join probe
    against ``customer``."""
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    return quality.audit(
        orders,
        not_null=["o_custkey", "o_orderdate"],
        unique=[["o_orderkey"]],
        ranges={"o_totalprice": (0.0, 400000.0)},
        checks={"status_valid": F.col("o_orderstatus").isin("O", "F", "P")},
        foreign_keys=[("o_custkey", customer, "c_custkey")],
    )


_QA_AUDIT_SQL = """
WITH agg AS (
  SELECT
    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_custkey,
    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nn_orderdate,
    COUNT(*) - COUNT(DISTINCT o_orderkey)
      - SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS uq_orderkey,
    SUM(CASE WHEN o_totalprice IS NOT NULL
              AND NOT (o_totalprice BETWEEN 0 AND 400000) THEN 1 ELSE 0 END) AS rg_totalprice,
    SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS ck_status
  FROM orders
)
SELECT 'not_null:o_custkey' AS "check", CAST(nn_custkey AS BIGINT) AS n_violations FROM agg
UNION ALL SELECT 'not_null:o_orderdate', CAST(nn_orderdate AS BIGINT) FROM agg
UNION ALL SELECT 'unique:o_orderkey', CAST(uq_orderkey AS BIGINT) FROM agg
UNION ALL SELECT 'range:o_totalprice', CAST(rg_totalprice AS BIGINT) FROM agg
UNION ALL SELECT 'check:status_valid', CAST(ck_status AS BIGINT) FROM agg
UNION ALL SELECT 'fk:o_custkey', CAST(COUNT(*) AS BIGINT) FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


def ev_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 early user journeys: each user's first 8 events (total
    order ``(ts, event_id)``) concatenated into a path string, counted
    across users. The ``rn <= 8`` filter runs BEFORE the collect, so
    per-user state is bounded — a power user with 10M events
    contributes 8, not an unbounded array. The window and the groupBy
    share the ``user_id`` hash partitioning (one exchange), then the
    path count is a map-side-combining aggregate whose domain is
    distinct paths, with a TakeOrdered top-20 — no global sort. The
    standard funnel-mining shape for behavioral corpora at any event
    volume."""
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first8 = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 8)
    paths = first8.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


_EV_PATHS_SQL = """
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM r WHERE rn <= 8 GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM p GROUP BY path
ORDER BY n_users DESC, path
LIMIT 20
"""


def tx_adaptive_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source adaptive quality floor
    (``operators/text_analysis.adaptive_quality_filter``, the CCNet
    per-domain-percentile recipe): each source keeps docs at or above
    its own p25 score. The ordered statistic runs on the (source,
    rounded-score) histogram, never a per-row window — see the
    operator docstring for the 100 TB argument."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.adaptive_quality_filter(docs, k_num=1, k_den=4)


_TX_ADAPTIVE_SQL = f"""
WITH t AS (SELECT doc_id, source, text, {_D_TOKS} AS toks FROM documents),
m AS (
  SELECT source,
         CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
           / len(toks) AS mean_len,
         len(list_distinct(toks)) / len(toks) AS ttr,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text) AS punct
  FROM t
),
s AS (
  SELECT source,
         ROUND(0.4 * (1.0 - LEAST(ABS(mean_len - 5.0) / 5.0, 1.0))
               + 0.4 * ttr
               + 0.2 * (1.0 - LEAST(punct * 5.0, 1.0)), 6) AS quality
  FROM m
),
hist AS (
  SELECT source, quality, COUNT(*) AS c FROM s
  WHERE quality IS NOT NULL GROUP BY source, quality
),
cum AS (
  SELECT source, quality, c,
         SUM(c) OVER (PARTITION BY source) AS n,
         SUM(c) OVER (PARTITION BY source ORDER BY quality
                      ROWS UNBOUNDED PRECEDING) AS cumc
  FROM hist
),
fl AS (
  SELECT source, MIN(quality) AS q_floor, MAX(n) AS n_docs
  FROM cum WHERE cumc >= (n * 1 + 3) // 4 GROUP BY source
)
SELECT h.source,
       CAST(MAX(f.n_docs) AS BIGINT) AS n_docs,
       MAX(f.q_floor) AS q_floor,
       CAST(SUM(CASE WHEN h.quality >= f.q_floor THEN h.c ELSE 0 END) AS BIGINT) AS n_kept
FROM hist h JOIN fl f USING (source)
GROUP BY h.source
ORDER BY h.source
"""


def emb_int8_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 symmetric-quantization audit per label
    (``operators/similarity.int8_quantization_report``): mean absmax
    scale and mean per-element reconstruction error — exact on any
    engine via 2^-20 integer error units (the ``sim_label_centroids``
    trick)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.int8_quantization_report(emb)


_EMB_INT8_SQL = """
WITH p AS (
  SELECT label, CAST(len(embedding) AS BIGINT) AS dim,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT label, dim, v,
         list_max(list_transform(v, x -> abs(x))) AS s
  FROM p
),
e AS (
  SELECT label, dim,
         CAST(floor(s * 1048576 + 0.5) AS BIGINT) AS s_q,
         CASE WHEN s = 0 THEN CAST(0 AS BIGINT) ELSE
           CAST(list_aggregate(list_transform(v, x ->
             CAST(floor(abs(x - floor(x * 127.0 / s + 0.5) * s / 127.0)
                        * 1048576 + 0.5) AS BIGINT)), 'sum') AS BIGINT)
         END AS err_q
  FROM b
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       (CAST(SUM(s_q) AS DOUBLE) / COUNT(*)) / 1048576.0 AS avg_max_abs,
       (CAST(SUM(err_q) AS DOUBLE) / CAST(SUM(dim) AS DOUBLE)) / 1048576.0 AS avg_abs_err
FROM e GROUP BY label ORDER BY label
"""


def dd_minhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-vs-indexed-corpus near-dup
    (``operators/dedup.incremental_minhash_pairs``): docs with
    ``doc_id % 10 == 0`` arrive as the batch against the rest as the
    indexed corpus. Candidates come from batch-buckets ⨝ all-buckets —
    work scales with the batch, never corpus×corpus. Deterministic
    (seeded xxhash64) but hash-dependent, so rows-only here; the exact
    ``== full-recompute-restricted-to-batch`` property is asserted in
    tests. The corpus/batch shingle sets AND (id, band, bucket) index
    rows are id-filters over the family-shared checkpointed builds —
    shingling and banding are per-document row-local, so filtering
    before or after either is value-identical (the portable twin's
    documented slicing equivalence)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import (
        xxh_banded_index,
        xxh_shingle_sets,
    )

    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    sets = xxh_shingle_sets(spark, sf)
    idx = xxh_banded_index(spark, sf)
    return dedup.incremental_minhash_pairs(
        corpus, batch,
        sh_c=sets.where(F.col("id") % 10 != 0),
        sh_b=sets.where(F.col("id") % 10 == 0),
        banded_b=idx.where(F.col("id") % 10 == 0),
        banded_all=idx,
    ).orderBy("a_id", "b_id")


def qa_volume_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Daily event-volume z-score anomalies
    (``operators/quality.volume_anomaly``): variance from integer power
    sums in one fixed IEEE expression — no partition-order-dependent
    Welford rounding — so the z-scores hash identically on any engine."""
    ev = load_table(spark, sf, "events")
    return quality.volume_anomaly(ev, ts_col="ts", z_threshold=2.0)


_QA_ANOMALY_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY CAST(ts AS DATE)
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(n_events) AS BIGINT) AS sum_c,
         CAST(SUM(n_events * n_events) AS BIGINT) AS sum_c2
  FROM daily
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       d.n_events,
       ROUND((CAST(d.n_events AS DOUBLE) - CAST(sum_c AS DOUBLE) / n_days)
             / sqrt((CAST(sum_c2 AS DOUBLE)
                     - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n_days)
                    / (n_days - 1)), 6) AS z,
       ABS((CAST(d.n_events AS DOUBLE) - CAST(sum_c AS DOUBLE) / n_days)
           / sqrt((CAST(sum_c2 AS DOUBLE)
                   - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n_days)
                  / (n_days - 1))) > 2.0 AS is_anomaly
FROM daily d, st
ORDER BY day
"""


def px_training_mix(spark: SparkSession, sf: str) -> DataFrame:
    """CAPSTONE composition — the full training-data prep chain as one
    plan, proving the operators compose: per-source adaptive quality
    floor (``adaptive_quality_keep``) → canonical exact dedup (first
    doc per content fingerprint) → deterministic train split (md5
    uniform < 0.75) → per-language mixture thinning (non-English
    halved, same md5-uniform device, independent salt) → the final
    mix manifest per (source, lang): surviving docs and total tokens.

    Every stage is individually oracle-proven elsewhere
    (``tx_adaptive_quality``, ``dd_exact_dup_groups``,
    ``sa_hash_split``, ``sa_mixture_sample``); this query hash-proves
    the COMPOSITION. Scale shape: two map-only scoring passes + one
    fingerprint shuffle + codegen'd hash filters + a tiny manifest
    aggregate — no stage shuffles the corpus on a low-cardinality
    key."""
    docs = load_table(spark, sf, "documents")
    kept = text_analysis.adaptive_quality_keep(docs, carry=("lang",))
    # r10 optimization (guide §2.3 aggregate before you shuffle +
    # project before the exchange): first-doc-per-fingerprint was a
    # row_number window — full sort-shuffle of every kept row
    # (including the dead `quality` column) keyed by fingerprint.
    # min_by(struct, doc_id) computes the identical survivor (doc_id
    # is unique, so "rn=1 by doc_id asc" ≡ "argmin doc_id") as a HASH
    # aggregate: map-side partial aggregation collapses duplicate
    # groups before the exchange, no sort, and only the four consumed
    # columns travel. Oracle unchanged and re-proven.
    uniq = (
        kept.groupBy(TX.fingerprint("text").alias("fp"))
        .agg(
            F.min_by(
                F.struct("doc_id", "source", "lang", "text"), F.col("doc_id")
            ).alias("r")
        )
        .select("r.doc_id", "r.source", "r.lang", "r.text")
    )
    train = uniq.where(sampling.uniform_hash(F.col("doc_id"), "split:") < 0.75)
    mixed = train.where(
        (F.col("lang") == "en")
        | (sampling.uniform_hash(F.col("doc_id"), "mix:") < 0.5)
    )
    return (
        mixed.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(TX.tokens("text"))).cast("bigint").alias("total_tokens"),
        )
        .orderBy("source", "lang")
    )


_PX_MIX_SQL = f"""
WITH t AS (SELECT doc_id, source, lang, text, {_D_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, source, lang, text, toks,
         CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
           / len(toks) AS mean_len,
         len(list_distinct(toks)) / len(toks) AS ttr,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text) AS punct
  FROM t
),
s AS (
  SELECT doc_id, source, lang, text, toks,
         ROUND(0.4 * (1.0 - LEAST(ABS(mean_len - 5.0) / 5.0, 1.0))
               + 0.4 * ttr
               + 0.2 * (1.0 - LEAST(punct * 5.0, 1.0)), 6) AS quality
  FROM m
),
hist AS (
  SELECT source, quality, COUNT(*) AS c FROM s
  WHERE quality IS NOT NULL GROUP BY source, quality
),
cum AS (
  SELECT source, quality, c,
         SUM(c) OVER (PARTITION BY source) AS n,
         SUM(c) OVER (PARTITION BY source ORDER BY quality
                      ROWS UNBOUNDED PRECEDING) AS cumc
  FROM hist
),
fl AS (
  SELECT source, MIN(quality) AS q_floor
  FROM cum WHERE cumc >= (n * 1 + 3) // 4 GROUP BY source
),
kept AS (
  SELECT s.* FROM s JOIN fl USING (source) WHERE s.quality >= fl.q_floor
),
uniq AS (
  SELECT * FROM (
    SELECT kept.*,
           ROW_NUMBER() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
train AS (
  SELECT * FROM uniq
  WHERE CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
          / 281474976710656.0 < 0.75
),
mixed AS (
  SELECT * FROM train
  WHERE lang = 'en'
     OR CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
          / 281474976710656.0 < 0.5
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
FROM mixed GROUP BY source, lang
ORDER BY source, lang
"""


def ts_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume per
    type (zero-init form, α = 1/4): the anomaly-baseline smoother.

    An EWMA is a sequential recurrence (``s_t = αx_t + (1−α)s_{t−1}``),
    which naively forces a single-task ordered fold per key. The
    closed form factorizes it into window-parallel prefix sums:
    ``s_t = α·(1−α)^t · Σ_{j≤t} x_j/(1−α)^j`` — one cumulative sum over
    the day-indexed series, i.e. the same plan shape as
    ``w1_running_total``. α is dyadic (1/4) so every decay power
    ``0.75^i = 3^i/4^i`` is exactly representable through i=33; for
    multi-year series the factor is re-based per chunk to keep
    ``(1−α)^{−i}`` in range (documented, not needed at fixture span).
    The shuffle domain is (event_type, day) — daily grain, independent
    of raw event count."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    w_ord = Window.partitionBy("event_type").orderBy("d")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = daily.withColumn("i", F.row_number().over(w_ord))
    c = r.withColumn(
        "cum", F.sum(F.col("n_events") / F.pow(F.lit(0.75), F.col("i"))).over(w_cum)
    )
    return c.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round(F.lit(0.25) * F.pow(F.lit(0.75), F.col("i")) * F.col("cum"), 6).alias(
            "ewma"
        ),
    ).orderBy("event_type", "day")


_TS_EWMA_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
r AS (
  SELECT event_type, d, n_events,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM daily
),
c AS (
  SELECT event_type, d, n_events, i,
         SUM(n_events / power(0.75, i)) OVER (
           PARTITION BY event_type ORDER BY i ROWS UNBOUNDED PRECEDING) AS cum
  FROM r
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n_events,
       ROUND(0.25 * power(0.75, i) * cum, 6) AS ewma
FROM c ORDER BY event_type, day
"""


def fn_try_surface(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI-safe error-handling surface: under Spark 4's default ANSI
    mode a malformed cast / division by zero / out-of-bounds index
    THROWS, so robust pipelines use the ``try_*`` forms, which return
    NULL instead of killing a 10-hour job at the first dirty row. One
    codegen projection; DuckDB mirrors via TRY_CAST / guarded CASE /
    native NULL-on-out-of-bounds list indexing. A deterministic 1-in-10
    key slice keeps the bench cost honest: a failing ANSI ``try_cast``
    pays JVM exception-handling per row (~20 µs), which is the feature's
    real price, not a plan defect — the semantics, not the throughput,
    are what this query pins."""
    o = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    )
    return o.select(
        "o_orderkey",
        # '1-URGENT' → NULL (not an int), ANSI cast would throw
        F.expr("try_cast(o_orderpriority AS INT)").alias("prio_as_int"),
        # leading digit extracted first DOES parse
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").alias("prio_digit"),
        # every third key divides by zero → NULL, not an exception
        F.expr("round(try_divide(o_totalprice, o_orderkey % 3), 6)").alias(
            "price_over_mod"
        ),
        # index 3 of a 2-element split → NULL
        F.expr("try_element_at(split(o_orderpriority, '-'), 3)").alias("no_third_part"),
        F.expr("try_element_at(split(o_orderpriority, '-'), 2)").alias("prio_word"),
        # status letter is not a date
        F.expr("try_cast(o_orderstatus AS DATE)").cast("string").alias("status_as_date"),
    ).orderBy("o_orderkey")


_FN_TRY_SQL = """
SELECT o_orderkey,
       TRY_CAST(o_orderpriority AS INTEGER) AS prio_as_int,
       TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE ROUND(o_totalprice / (o_orderkey % 3), 6) END AS price_over_mod,
       string_split(o_orderpriority, '-')[3] AS no_third_part,
       string_split(o_orderpriority, '-')[2] AS prio_word,
       CAST(TRY_CAST(o_orderstatus AS DATE) AS VARCHAR) AS status_as_date
FROM orders
WHERE o_orderkey % 10 = 0
ORDER BY o_orderkey
"""


def tx_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage curve: for candidate vocab sizes k, the
    fraction of ALL corpus token occurrences covered by the k most
    frequent tokens — the number that decides how big a tokenizer's
    vocabulary must be (and what OOV rate a size buys).

    Shape: one explode+groupBy collapses the corpus to the vocabulary
    relation (distinct tokens ≪ corpus occurrences), and only THAT
    relation flows through the ordered cumulative window — the same
    corpus-to-histogram reduction as ``tx_adaptive_quality``. Ties
    rank deterministically by (count desc, token asc). Coverage is an
    exact integer ratio divided once at the end."""
    ks = [5, 10, 25]
    docs = load_table(spark, sf, "documents")
    from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions

    counts = (
        ensure_min_partitions(docs.select("text"))
        .select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = counts.select(
        F.row_number().over(w).alias("rank"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    k_df = spark.createDataFrame([(k,) for k in ks], "k INT")
    return (
        ranked.join(k_df, F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.round(
                F.max("cum").cast("double") / F.max("total").cast("double"), 6
            ).alias("coverage"),
            F.max("rank").cast("bigint").alias("tokens_in_vocab"),
        )
        .orderBy("k")
    )


_TX_VOCAB_SQL = f"""
WITH counts AS (
  SELECT t.tok, COUNT(*) AS c
  FROM (SELECT unnest({_D_TOKS}) AS tok FROM documents) t
  GROUP BY t.tok
),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rank,
         SUM(c) OVER (ORDER BY c DESC, tok ASC ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER () AS total
  FROM counts
)
SELECT k,
       ROUND(CAST(MAX(cum) AS DOUBLE) / CAST(MAX(total) AS DOUBLE), 6) AS coverage,
       CAST(MAX(rank) AS BIGINT) AS tokens_in_vocab
FROM ranked JOIN (VALUES (5), (10), (25)) AS ks(k) ON rank <= k
GROUP BY k ORDER BY k
"""


def qa_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnostic on ``lineitem.l_suppkey``: distinct-key
    count, total rows, the share held by the 10 heaviest keys, and the
    Gini coefficient of the per-key row distribution — the report to
    read BEFORE shuffling 100 TB on a key (it decides between a plain
    hash join, AQE skew splitting, or explicit salting,
    ``operators/skew.salted_join``).

    The corpus collapses to the per-key count relation first; every
    ordered pass runs at key grain. Gini comes from the rank-weighted
    integer sum (``2·Σ i·cᵢ / (n·Σc) − (n+1)/n`` over counts sorted
    ascending, ties broken by key) — integer power sums, one double
    expression at the end, engine-exact."""
    li = load_table(spark, sf, "lineitem").select("l_suppkey")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    w_asc = Window.orderBy(F.asc("c"), F.asc("l_suppkey"))
    w_desc = Window.orderBy(F.desc("c"), F.asc("l_suppkey"))
    ranked = counts.select(
        "c",
        F.row_number().over(w_asc).alias("i"),
        F.row_number().over(w_desc).alias("r_desc"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("total_rows"),
        F.round(
            F.sum(F.when(F.col("r_desc") <= 10, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c").cast("double"),
            6,
        ).alias("top10_share"),
        F.round(
            (F.lit(2.0) * F.sum(F.col("i") * F.col("c")).cast("double"))
            / (F.count(F.lit(1)).cast("double") * F.sum("c").cast("double"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


_QA_SKEW_SQL = """
WITH counts AS (
  SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT c,
         ROW_NUMBER() OVER (ORDER BY c ASC, l_suppkey ASC) AS i,
         ROW_NUMBER() OVER (ORDER BY c DESC, l_suppkey ASC) AS r_desc
  FROM counts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS total_rows,
       ROUND(CAST(SUM(CASE WHEN r_desc <= 10 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS top10_share,
       ROUND((2.0 * CAST(SUM(i * c) AS DOUBLE))
             / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM ranked
"""


def ag_median_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median and deterministic mode per order status: median
    over integer cents (the interpolated midpoint of two BIGINTs is an
    exact ``x.5`` double — no engine drift), and mode computed
    explicitly as (count desc, value asc) rank-1 rather than the
    built-in ``mode()``, whose tie choice is engine-/partition-
    dependent. Both run at (status, value) histogram grain after
    map-side combines."""
    o = load_table(spark, sf, "orders").select(
        "o_orderstatus", SC.cents("o_totalprice").alias("price_c"), "o_orderpriority"
    )
    med = o.groupBy("o_orderstatus").agg(
        F.round(F.median("price_c") / 100.0, 2).alias("median_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    pr = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("c"), F.asc("o_orderpriority")
    )
    mode = (
        pr.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    return med.join(mode, "o_orderstatus").orderBy("o_orderstatus")


_AG_MEDIAN_SQL = """
WITH o AS (
  SELECT o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         o_orderpriority
  FROM orders
),
med AS (
  SELECT o_orderstatus,
         ROUND(median(price_c) / 100.0, 2) AS median_price,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM o GROUP BY o_orderstatus
),
pr AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
  FROM o GROUP BY o_orderstatus, o_orderpriority
),
md AS (
  SELECT o_orderstatus, o_orderpriority AS mode_priority
  FROM (
    SELECT o_orderstatus, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                              ORDER BY c DESC, o_orderpriority ASC) AS rn
    FROM pr
  ) WHERE rn = 1
)
SELECT med.o_orderstatus, med.median_price, med.n_orders, md.mode_priority
FROM med JOIN md USING (o_orderstatus)
ORDER BY med.o_orderstatus
"""


def emb_prefix_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-style dimension audit: for each prefix length k, the
    mean fraction of a vector's L2 norm captured by its first k
    components (= cosine between the full vector and its k-truncation)
    — the measurement that decides whether truncated embeddings can
    serve ANN at a fraction of the memory.

    Exactness discipline: squared float32 components are 48-bit-exact
    doubles, quantized to 2^-40 integer units so per-vector prefix/full
    sums are order-independent BIGINTs; the per-vector ratio
    (``sqrt(pref)/sqrt(full)``, scale cancels) is one deterministic
    IEEE chain, and the cross-vector mean again accumulates in 2^-20
    integer units. Nothing depends on array fold order, partition
    count, or engine. Per-(vector, k) work is a codegen'd slice-fold;
    the shuffle domain is |ks| rows."""
    ks = [8, 16, 32, 64]
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * x.cast("double") * F.lit(1099511627776.0) + 0.5
            ).cast("bigint"),
        ).alias("sq"),
    )
    k_df = spark.createDataFrame([(k,) for k in ks], "k INT")
    acc0 = F.lit(0).cast("bigint")
    add = lambda acc, x: acc + x  # noqa: E731
    per = q.crossJoin(F.broadcast(k_df)).select(
        "k",
        F.aggregate(F.slice("sq", 1, F.col("k")), acc0, add).alias("pref"),
        F.aggregate("sq", acc0, add).alias("full"),
    )
    ratio = F.when(F.col("full") == 0, F.lit(0.0)).otherwise(
        F.sqrt(F.col("pref").cast("double")) / F.sqrt(F.col("full").cast("double"))
    )
    return (
        per.select("k", F.floor(ratio * 1048576 + 0.5).cast("bigint").alias("r_q"))
        .groupBy("k")
        .agg(
            F.round(
                (F.sum("r_q").cast("double") / F.count(F.lit(1))) / F.lit(1048576.0),
                6,
            ).alias("avg_norm_fraction"),
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        )
        .orderBy("k")
    )


_EMB_PREFIX_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1099511627776.0 + 0.5)
                AS BIGINT)) AS sq
  FROM embeddings
),
per AS (
  SELECT ks.k,
         CAST(list_aggregate(list_slice(q.sq, 1, ks.k), 'sum') AS BIGINT) AS pref,
         CAST(list_aggregate(q.sq, 'sum') AS BIGINT) AS "full"
  FROM q, (SELECT unnest([8, 16, 32, 64]) AS k) ks
),
r AS (
  SELECT k,
         CAST(floor(CASE WHEN "full" = 0 THEN 0.0
                         ELSE sqrt(CAST(pref AS DOUBLE)) / sqrt(CAST("full" AS DOUBLE))
                    END * 1048576 + 0.5) AS BIGINT) AS r_q
  FROM per
)
SELECT k,
       ROUND((CAST(SUM(r_q) AS DOUBLE) / COUNT(*)) / 1048576.0, 6) AS avg_norm_fraction,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM r GROUP BY k ORDER BY k
"""


def px_source_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-budget curation
    (``operators/text_analysis.source_token_budget``): equal token
    allowance per source, filled best-quality-first — the
    token-denominated domain-balancing step of a training mix."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.source_token_budget(docs, budget_tokens=600)


_PX_BUDGET_SQL = f"""
WITH t AS (SELECT doc_id, source, text, {_D_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_ws_tokens,
         CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
           / len(toks) AS mean_len,
         len(list_distinct(toks)) / len(toks) AS ttr,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text) AS punct
  FROM t
),
q AS (
  SELECT doc_id, source, n_ws_tokens,
         ROUND(0.4 * (1.0 - LEAST(ABS(mean_len - 5.0) / 5.0, 1.0))
               + 0.4 * ttr
               + 0.2 * (1.0 - LEAST(punct * 5.0, 1.0)), 6) AS quality
  FROM m
),
c AS (
  SELECT doc_id, source, quality, n_ws_tokens,
         CAST(SUM(n_ws_tokens) OVER (
           PARTITION BY source ORDER BY quality DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM q
)
SELECT doc_id, source, quality, n_ws_tokens, cum_tokens
FROM c WHERE cum_tokens <= 600 ORDER BY source, cum_tokens
"""


def px_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-shard manifest
    (``operators/export.shard_manifest``): md5-hash shard assignment
    (pure function of doc_id — reproducible across re-runs and
    appends) with per-shard row/char totals and key ranges; the
    balance proof for the physical ``shard_export`` layout."""
    docs = load_table(spark, sf, "documents")
    return export.shard_manifest(docs, "doc_id", n_shards=8, size_col="n_chars")


_PX_SHARD_SQL = """
SELECT CAST(CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 8
         AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS total_size,
       MIN(doc_id) AS min_key,
       MAX(doc_id) AS max_key
FROM documents GROUP BY 1 ORDER BY shard
"""


def qa_json_dlq(spark: SparkSession, sf: str) -> DataFrame:
    """Dead-letter routing report (``operators/quality.dlq_split``):
    parse ``events.props`` against its declared schema, quarantine
    malformed payloads, and summarize both sides per event_type. The
    fixture's payloads are all well-formed, so corruption is injected
    deterministically first (every 97th event loses its last byte) —
    the injection is part of the query on BOTH engines, making the
    routing itself the thing under test."""
    ev = load_table(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 97 == 0,
            F.expr("substring(props, 1, length(props) - 1)"),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    # Report form: the ok/bad distinction folds into ONE conditional
    # aggregation over ONE scan+parse (dlq_parse) — the split form
    # (dlq_split) would scan and parse once per side and join two
    # aggregates, 2× the scan cost for the same numbers.
    parsed = quality.dlq_parse(ev, "props", "k BIGINT")
    bad = F.col("__parsed._corrupt_record").isNotNull() | F.col("__parsed").isNull()
    return (
        parsed.select("event_type", bad.alias("bad"), F.col("__parsed.k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(~F.col("bad"), 1)).cast("bigint").alias("n_ok"),
            F.count(F.when(F.col("bad"), 1)).cast("bigint").alias("n_bad"),
            F.coalesce(F.sum(F.when(~F.col("bad"), F.col("k"))), F.lit(0))
            .cast("bigint")
            .alias("sum_k"),
        )
        .orderBy("event_type")
    )


_QA_DLQ_SQL = """
WITH ev AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 97 = 0 THEN substring(props, 1, length(props) - 1)
              ELSE props END AS props
  FROM events
),
flagged AS (
  SELECT event_type, props, json_valid(props) AS ok,
         CASE WHEN json_valid(props)
              THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
  FROM ev
)
SELECT event_type,
       CAST(COUNT(*) FILTER (WHERE ok) AS BIGINT) AS n_ok,
       CAST(COUNT(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_bad,
       CAST(COALESCE(SUM(k) FILTER (WHERE ok), 0) AS BIGINT) AS sum_k
FROM flagged GROUP BY event_type ORDER BY event_type
"""


def st_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup, batch twin
    (``streaming/windows.streaming_dedup``): an at-least-once
    transport is simulated by replaying every event twice (self-union)
    and deduplicating on event_id; per-type counts prove each event
    survived exactly once. The watermarked form is
    ``streaming/ingest.streaming_dedup`` (dropDuplicatesWithinWatermark),
    replay-tested in tests/test_streaming.py."""
    ev = load_table(spark, sf, "events").select("event_id", "event_type", "ts")
    replayed = ev.unionAll(ev)
    return (
        replayed.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy("event_type")
    )


_ST_DEDUP_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM (SELECT DISTINCT ON (event_id) event_id, event_type
      FROM (SELECT * FROM events UNION ALL SELECT * FROM events))
GROUP BY event_type ORDER BY event_type
"""


def ix_global_rownum(spark: SparkSession, sf: str) -> DataFrame:
    """Global row numbering at full parallelism
    (``operators/indexing.global_row_number``): the stable-example-id /
    export-offset assignment. The SQL twin is the single-partition
    ``ROW_NUMBER() OVER (ORDER BY ...)``; the Spark plan is the
    two-phase prefix count — range repartition, per-partition counts,
    broadcast offsets — with no Exchange SinglePartition anywhere."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    return indexing.global_row_number(li, ["l_orderkey", "l_linenumber"])


_IX_ROWNUM_SQL = """
SELECT l_orderkey, l_linenumber,
       ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
FROM lineitem ORDER BY rn
"""


def ev_type_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Pointwise mutual information between event types over user
    co-occurrence — the association-mining step (which behaviors
    travel together) rendered at engine scale: distinct (user, type)
    pairs, a per-user self-join bounded by types-per-user (≤ a few
    dozen pairs per user, never user²), broadcast per-type totals,
    PMI = ln(N·c_ab / (c_a·c_b)) from exact integer counts in one
    final IEEE expression (order-independent)."""
    ev = load_table(spark, sf, "events").select("user_id", "event_type").distinct()
    a, b = ev.alias("a"), ev.alias("b")
    pairs = (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n_users = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return (
        pairs.join(
            F.broadcast(totals.withColumnRenamed("event_type", "type_a")), "type_a"
        )
        .withColumnRenamed("c", "c_a")
        .join(F.broadcast(totals.withColumnRenamed("event_type", "type_b")), "type_b")
        .withColumnRenamed("c", "c_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n_users").cast("double")
                    / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("type_a", "type_b")
    )


_EV_PMI_SQL = """
WITH ev AS (SELECT DISTINCT user_id, event_type FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
totals AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1),
n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ev)
SELECT p.type_a, p.type_b, p.c_ab,
       ROUND(ln(CAST(p.c_ab AS DOUBLE) * CAST(n.n_users AS DOUBLE)
                / (CAST(ta.c AS DOUBLE) * CAST(tb.c AS DOUBLE))), 6) AS pmi
FROM pairs p
JOIN totals ta ON p.type_a = ta.event_type
JOIN totals tb ON p.type_b = tb.event_type
CROSS JOIN n
ORDER BY type_a, type_b
"""


def tx_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram language-model scoring (the CCNet/KenLM-style
    perplexity gate, reduced to its order-0 exact form): per document,
    the mean negative log-probability of its tokens under the corpus
    unigram distribution — low = stereotypical text, high = rare-token
    soup; both tails are filter candidates.

    Determinism: each token type's surprisal ln(T/c) is converted to
    integer 2^-20 units ONCE (per vocab row, a per-row IEEE expression
    — no accumulation ordering), then weighted by exact occurrence
    counts and integer-summed; only the final division renders a
    double. Plan: explode → (doc,tok) counts → token-keyed join to the
    vocab relation → one groupBy doc. The vocab join key is Zipf-
    skewed at corpus scale; the (doc,tok) pre-aggregation is what
    bounds the hot keys (one row per doc per type, not per
    occurrence)."""
    from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions

    docs = load_table(spark, sf, "documents")
    toks = ensure_min_partitions(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(TX.tokens("text")).alias("tok")
    )
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    vocab = dt.groupBy("tok").agg(F.sum("k").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("t_tokens"))
    priced = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.floor(
            F.log(F.col("t_tokens") / F.col("c").cast("double")) * F.lit(1048576.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("u"),
    )
    return (
        dt.join(priced, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.sum(F.col("k") * F.col("u")).alias("su"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("su").cast("double") / F.col("n_tokens") / F.lit(1048576.0), 6
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


_TX_UNIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_D_TOKS}) AS tok FROM documents
),
dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS k FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, CAST(SUM(k) AS BIGINT) AS c FROM dt GROUP BY 1),
total AS (SELECT CAST(SUM(c) AS DOUBLE) AS t_tokens FROM vocab),
priced AS (
  SELECT tok,
         CAST(floor(ln(t_tokens / CAST(c AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS u
  FROM vocab CROSS JOIN total
)
SELECT dt.doc_id,
       CAST(SUM(dt.k) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(dt.k * p.u) AS DOUBLE) / SUM(dt.k) / 1048576.0, 6) AS avg_neg_logprob
FROM dt JOIN priced p ON dt.tok = p.tok
GROUP BY dt.doc_id ORDER BY dt.doc_id
"""


def ap_hll_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-as-data pre-aggregation (``operators/sketches``): build
    per-(day, event_type) HLL user sketches once, answer the weekly
    distinct-user question by MERGING the stored sketches — never
    re-scanning events. Oracle note: at fixture cardinalities
    (15/150/1500 users) the lg_k=14 sketch is still in exact list
    mode, so the estimate equals COUNT(DISTINCT) and the query is
    hash-checkable; at production cardinalities the same plan returns
    ±0.8% estimates — the trade the pattern exists to make."""
    ev = load_table(spark, sf, "events").select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    prof = sketches.hll_profile(ev, ["day", "event_type"], "user_id")
    wk = prof.withColumn("week", F.weekofyear("day"))
    return (
        sketches.hll_rollup(wk, ["week", "event_type"])
        .select(
            F.col("week").cast("int").alias("week"),
            "event_type",
            F.col("n_distinct_est").cast("bigint").alias("n_users"),
        )
        .orderBy("week", "event_type")
    )


_AP_HLL_SQL = """
SELECT CAST(weekofyear(CAST(ts AS DATE)) AS INTEGER) AS week, event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2 ORDER BY week, event_type
"""


def sim_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive hard-negative mining
    (``operators/similarity.hard_negatives``): top-3 cross-label
    nearest neighbors for anchors vec_id < 50 — exact mining-set
    baseline; the label filter drops into the LSH candidate path at
    corpus scale."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.hard_negatives(
        emb, k=3, queries=emb.filter(F.col("vec_id") < 50)
    ).select(
        "anchor_id",
        "negative_id",
        F.col("neg_label").cast("int").alias("neg_label"),
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


_SIM_HARDNEG_SQL = """
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS anchor_id, label AS ql, e AS qe FROM v WHERE vec_id < 50),
s AS (
  SELECT anchor_id, v.vec_id AS negative_id, CAST(v.label AS INTEGER) AS neg_label,
         list_dot_product(qe, v.e)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(v.e, v.e))) AS raw
  FROM q, v WHERE v.label <> ql
)
SELECT anchor_id, negative_id, neg_label, ROUND(raw, 6) AS score,
       row_number() OVER (PARTITION BY anchor_id ORDER BY raw DESC, negative_id ASC) AS rank
FROM s
QUALIFY rank <= 3
"""


def ag_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Vectorized pandas UDAF surface
    (``functions/python_api.weighted_median``): per return flag, the
    quantity-weighted lower median of extended price — a statistic no
    built-in aggregate expresses (``median``/``percentile_approx``
    cannot weight). Deterministic across engines because the result is
    an EXISTING stored value chosen by exact-integer weight sums
    (quantities are integral doubles). The oracle computes the same
    statistic via the cumulative-weight window — the rendering to use
    when groups are unbounded."""
    from movie_data_etl_pipeline_spark.functions.python_api import weighted_median

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(weighted_median("l_extendedprice", "l_quantity").alias("w_median_price"))
        .orderBy("l_returnflag")
    )


_AG_WMEDIAN_SQL = """
WITH o AS (
  SELECT l_returnflag, l_extendedprice AS v,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag, MIN(v) AS w_median_price
FROM o WHERE cum >= tot / 2.0
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Round-3 third wave: retrieval index, skew-salted join, table maintenance,
# grouped regression, sparse text similarity, session attribution
# ---------------------------------------------------------------------------


def ix_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus inverted index (``operators/indexing.inverted_index``):
    per token, exact df/cf plus the 20 smallest doc ids as a posting
    string. Posting state is capped BEFORE the collect by a pre-shuffle
    WindowGroupLimit, so the hottest token costs 20 rows of reducer
    state, not its full posting list."""
    docs = load_table(spark, sf, "documents")
    return indexing.inverted_index(docs, max_postings=20)


_IX_INVIDX_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_D_TOKS}) AS token FROM documents),
dt AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
SELECT token, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
       array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
FROM dt GROUP BY token ORDER BY token
"""


def jx_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-mitigated fact⋈fact join (``operators/skew.salted_join``):
    lineitem revenue per order priority through a 4-way-salted join
    against orders — the oracle proves the salted plan computes exactly
    the plain join's answer (salting only spreads rows; it must never
    change them). Exact-cents revenue arithmetic as in Q3."""
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        SC.cents("l_extendedprice").alias("price_c"),
        SC.cents("l_discount").alias("disc_c"),
    )
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = skew.salted_join(li, orders, ["okey"], n_salts=4)
    rev_c = F.col("price_c") * (F.lit(100) - F.col("disc_c"))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum(rev_c).cast("double") / F.lit(10000.0), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_JX_SALTED_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0, 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def ly_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planner
    (``operators/layout.compaction_plan``) over a pseudo-manifest:
    orders rolled up to 101 hash-"files" (metadata grain), packed into
    ~2000-row rewrite bins by the deterministic sequential-packing
    window. The plan is a pure function of the manifest — idempotent
    resume for a crashed compactor."""
    orders = load_table(spark, sf, "orders")
    manifest = orders.groupBy((F.col("o_orderkey") % 101).alias("file_id")).agg(
        F.count(F.lit(1)).alias("rows")
    )
    return layout.compaction_plan(manifest, target=2000)


_LY_COMPACTION_SQL = """
WITH m AS (SELECT o_orderkey % 101 AS file_id, CAST(COUNT(*) AS BIGINT) AS sz FROM orders GROUP BY 1),
a AS (
  SELECT file_id, sz,
         CAST(floor(COALESCE(SUM(sz) OVER (ORDER BY sz DESC, file_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT) AS bin
  FROM m
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(sz) AS BIGINT) AS total_rows,
       string_agg(CAST(file_id AS VARCHAR), ',' ORDER BY sz DESC, file_id ASC) AS files,
       (COUNT(*) > 1 OR MAX(sz) < 2000) AS compact
FROM a GROUP BY bin ORDER BY bin
"""


def ag_ols_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Exact grouped regression (``operators/stats.ols_by_group``):
    price-vs-quantity fit per part brand from integer moment sums —
    bit-identical at any parallelism, unlike the built-in
    ``regr_slope`` whose double accumulation is merge-order-dependent.
    One broadcast dim join + one map-side-combining groupBy."""
    li = load_table(spark, sf, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("x"),
        SC.cents("l_extendedprice").alias("y"),
    )
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return stats.ols_by_group(joined, ["p_brand"], "x", "y").orderBy("p_brand")


_AG_OLS_SQL = """
WITH j AS (
  SELECT p_brand, CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
g AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx, CAST(SUM(x * y) AS HUGEINT) AS sxy,
         CAST(SUM(y * y) AS HUGEINT) AS syy
  FROM j GROUP BY 1
)
SELECT p_brand, n,
       CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) <> 0 THEN
         ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6) END AS slope,
       CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) <> 0 THEN
         ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6) END AS intercept,
       CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) <> 0
             AND CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) <> 0 THEN
         ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
               * CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
               / (CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                  * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)), 6) END AS r2
FROM g ORDER BY p_brand
"""


def sim_tfidf_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Exact sparse TF-IDF cosine pairs
    (``operators/similarity.tfidf_cosine_pairs``): 3-shingle terms,
    df-cut at 50 bounding the posting self-join's fan-out (the
    DISCO-style cut that keeps candidate volume linear in corpus
    size), quantized-idf integer weights, one final IEEE division.
    The positional shingle-hash terms come from the family-shared
    cached build — tf/df/idf depend only on counts, so the hashed
    rendering leaves every cosine unchanged."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import xxh_shingle_arrays

    docs = load_table(spark, sf, "documents")
    return similarity.tfidf_cosine_pairs(
        docs, ngram=3, max_df=50, threshold=0.2,
        terms_rel=xxh_shingle_arrays(spark, sf),
    )


_SIM_TFIDF_SQL = f"""
WITH t AS (SELECT doc_id, {_D_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS tok
  FROM t WHERE len(t) >= 3
),
dt AS (SELECT doc_id AS id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM sh GROUP BY 1, 2),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
idf AS (
  SELECT tok, df, idf_q FROM (
    SELECT tok, df, CAST(floor(ln(n_docs / CAST(df AS DOUBLE)) * 1024.0 + 0.5) AS BIGINT) AS idf_q
    FROM (SELECT tok, COUNT(*) AS df FROM dt GROUP BY 1) CROSS JOIN nd
    WHERE df <= 50
  ) WHERE idf_q > 0
),
w AS (SELECT dt.id, dt.tok, idf.df, dt.tf * idf.idf_q AS w FROM dt JOIN idf USING (tok)),
norms AS (SELECT id, SUM(w * w) AS n2 FROM w GROUP BY 1),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b, SUM(a.w * b.w) AS dp
  FROM w a JOIN w b ON a.tok = b.tok AND a.id < b.id
  WHERE a.df >= 2 GROUP BY 1, 2
)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b,
         ROUND(CAST(dp AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
  FROM dots JOIN norms na ON na.id = dots.id_a JOIN norms nb ON nb.id = dots.id_b
) WHERE cosine >= 0.2
ORDER BY id_a, id_b
"""


def ev_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """First-touch attribution: purchases credited to the opening
    event type of their 30-minute-gap session. Sessionization is two
    windows sharing ONE ``user_id`` exchange (gap flag → running
    session id → per-session first value); microsecond-exact gap
    arithmetic (``unix_micros``) so the session boundary can never
    disagree with the oracle on a sub-second tie."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    sess = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    ).withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    w2 = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    out = sess.withColumn("first_touch", F.first("event_type").over(w2)).filter(
        F.col("event_type") == "purchase"
    )
    return (
        out.groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("first_touch")
    )


_EV_ATTRIBUTION_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM e
),
f AS (
  SELECT *, FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS first_touch
  FROM s
)
SELECT first_touch, CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM f WHERE event_type = 'purchase'
GROUP BY first_touch ORDER BY first_touch
"""


def ap_cms_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch (``operators/sketches.cms_profile/estimate``):
    token frequencies estimated off the 4×2048 mergeable counter grid,
    compared against exact counts for the true top-10 tokens. The
    whole sketch is built over the portable hash family, so EVERY
    counter — not just the final estimates — is reproduced by the
    DuckDB twin: a value-checked oracle for a sketch operator."""
    from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions

    docs = load_table(spark, sf, "documents")
    toks = ensure_min_partitions(docs.select("doc_id", "text")).select(
        F.explode(TX.tokens("text")).alias("tok")
    )
    true_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_c")
    )
    top = true_counts.orderBy(F.desc("true_c"), F.asc("tok")).limit(10)
    prof = sketches.cms_profile(toks, "tok", depth=4, width=2048)
    est = sketches.cms_estimate(prof, top.select("tok"), "tok", depth=4, width=2048)
    return (
        top.join(est, "tok")
        .select(
            "tok",
            "true_c",
            "est",
            (F.col("est") - F.col("true_c")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("true_c"), F.asc("tok"))
    )


_AP_CMS_SQL = f"""
WITH toks AS (SELECT unnest({_D_TOKS}) AS tok FROM documents),
tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_c FROM toks GROUP BY 1),
top AS (SELECT tok, true_c FROM tc ORDER BY true_c DESC, tok ASC LIMIT 10),
h AS (SELECT {ph.sql_str_hash('tok')} AS h FROM toks),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT ds.d, ({ph.sql_lcg_perm('ds.d', 'h.h')}) % 2048 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM h CROSS JOIN ds GROUP BY 1, 2
),
th AS (SELECT tok, true_c, {ph.sql_str_hash('tok')} AS h FROM top),
probe AS (
  SELECT th.tok, th.true_c, ds.d, ({ph.sql_lcg_perm('ds.d', 'th.h')}) % 2048 AS bucket
  FROM th CROSS JOIN ds
)
SELECT p.tok, p.true_c, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est,
       CAST(MIN(COALESCE(c.cnt, 0)) - p.true_c AS BIGINT) AS overcount
FROM probe p LEFT JOIN cells c ON p.d = c.d AND p.bucket = c.bucket
GROUP BY p.tok, p.true_c
ORDER BY p.true_c DESC, p.tok ASC
"""


def qa_replica_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Merkle-style replica reconciliation: two copies of a table are
    compared by per-bucket (row count, order-independent content
    checksum) — at 100 TB you diff 256 bucket digests, then re-sync
    ONLY the buckets that disagree, never byte-comparing the tables.
    Replica B is lineitem with a deterministic fault injection (rows
    dropped where ``l_orderkey % 4999 = 7``, prices bumped where
    ``% 4999 = 11``). The row digest folds INTEGER renderings only
    (keys, quantity, cents) so both engines hash identical strings;
    the bucket checksum is an int64 SUM of row digests — commutative,
    partition-order-free."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("qty"),
        SC.cents("l_extendedprice").alias("price_c"),
    )
    # r10 optimization (guide §2.4 remove shuffles / §1.2 fewer passes):
    # replica B is DERIVED from A by the fault injection, so both bucket
    # digests are computable in ONE scan — per row, A's digest always,
    # B's digest as a CASE over the fault classes (NULL when dropped,
    # re-hash only for the rare bumped rows, else A's hash verbatim) —
    # then one groupBy carries all four aggregates. Plan: 2 scans +
    # 2 Exchanges + SortMergeJoin FullOuter → 1 scan + 1 Exchange, and
    # the O(len) row hash runs ~1× per row instead of 2×. Output is
    # bit-identical (oracle re-proven): n_b = count of surviving rows,
    # sum_b = sum of surviving digests, and the disagreement filter
    # sees the same (NULL-when-empty) sum_b the full-outer join
    # produced. At a real 100 TB reconciliation the replicas are
    # independent tables and two scans are the floor; HERE the declared
    # query defines B as a transform of A, so one pass is the floor.
    # The O(len) per-char row hash is the dominant per-row cost and the
    # sf fixture scans as ONE task (single row group) — fan out the
    # 4-column projection first so the hash runs at machine width
    # (ensure_min_partitions is a no-op on a real cluster's splits).
    from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions

    li = ensure_min_partitions(li)
    k = F.col("l_orderkey")
    dropped = k % 4999 == 7
    h_a = ph.str_hash(
        F.concat_ws("|", "l_orderkey", "l_linenumber", "qty", "price_c")
    )
    h_bumped = ph.str_hash(
        F.concat_ws(
            "|",
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("qty"),
            F.col("price_c") + 1,
        )
    )
    h_b = (
        F.when(dropped, F.lit(None).cast("long"))
        .when(k % 4999 == 11, h_bumped)
        .otherwise(h_a)
    )
    return (
        li.select(
            F.pmod(k, F.lit(256)).alias("bucket"),
            h_a.alias("h"),
            h_b.alias("h_b"),
            (~dropped).cast("long").alias("in_b"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_a"),
            F.sum("h").cast("bigint").alias("sum_a"),
            F.sum("in_b").cast("bigint").alias("n_b"),
            F.sum("h_b").cast("bigint").alias("sum_b"),
        )
        .filter(
            ~(
                F.col("sum_a").eqNullSafe(F.col("sum_b"))
                & F.col("n_a").eqNullSafe(F.col("n_b"))
            )
        )
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        )
        .orderBy("bucket")
    )


_QA_REPLICA_SQL = f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem
),
rb AS (
  SELECT l_orderkey, l_linenumber, qty,
         CASE WHEN l_orderkey % 4999 = 11 THEN price_c + 1 ELSE price_c END AS price_c
  FROM li WHERE l_orderkey % 4999 <> 7
),
da AS (
  SELECT l_orderkey % 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(SUM({ph.sql_str_hash("concat_ws('|', l_orderkey, l_linenumber, qty, price_c)")}) AS BIGINT) AS sum_a
  FROM li GROUP BY 1
),
db AS (
  SELECT l_orderkey % 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM({ph.sql_str_hash("concat_ws('|', l_orderkey, l_linenumber, qty, price_c)")}) AS BIGINT) AS sum_b
  FROM rb GROUP BY 1
)
SELECT bucket, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
FROM da FULL OUTER JOIN db USING (bucket)
WHERE NOT (sum_a IS NOT DISTINCT FROM sum_b AND n_a IS NOT DISTINCT FROM n_b)
ORDER BY bucket
"""


def tx_score_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source score calibration: each document's length mapped to
    its percent rank WITHIN its source — the step that makes quality
    scores comparable across heterogeneous sources before a global
    cutoff. The rank comes from the (source, value) HISTOGRAM
    (strictly-below cumulative count / (n−1)), not a per-row window —
    the shuffle domain is distinct values per source, and the data-
    grain step is one join back. Same scale discipline as
    ``adaptive_quality_filter``."""
    docs = load_table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    hist = docs.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy("n_chars")
    ranked = hist.select(
        "source",
        "n_chars",
        F.coalesce(
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("below"),
        F.sum("c").over(Window.partitionBy("source")).alias("tot"),
    )
    return (
        docs.join(ranked, ["source", "n_chars"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.when(
                F.col("tot") > 1,
                F.round(F.col("below") / (F.col("tot") - 1), 6),
            ).alias("pct_rank"),
        )
        .orderBy("doc_id")
    )


_TX_CALIBRATION_SQL = """
WITH hist AS (
  SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2
),
ranked AS (
  SELECT source, n_chars,
         COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         SUM(c) OVER (PARTITION BY source) AS tot
  FROM hist
)
SELECT d.doc_id, d.source, d.n_chars,
       CASE WHEN tot > 1 THEN ROUND(below / (tot - 1), 6) END AS pct_rank
FROM documents d JOIN ranked r ON d.source = r.source AND d.n_chars = r.n_chars
ORDER BY d.doc_id
"""


def qa_join_explosion(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-join blowup diagnostic: for a prospective self-join key,
    the exact output cardinality each key would contribute (c²) and
    its share of the total — the metadata-cost check you run BEFORE
    launching a join that might emit 10¹⁴ rows. One groupBy at key
    grain; the total is a broadcast one-row aggregate."""
    li = load_table(spark, sf, "lineitem").select("l_partkey")
    c = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    contrib = c.select(
        "l_partkey", "c", (F.col("c") * F.col("c")).cast("bigint").alias("pairs")
    )
    total = contrib.agg(F.sum("pairs").cast("double").alias("total_pairs"))
    return (
        contrib.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            F.col("c").cast("bigint").alias("c"),
            "pairs",
            F.round(F.col("pairs").cast("double") / F.col("total_pairs"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("pairs"), F.asc("l_partkey"))
        .limit(10)
    )


_QA_EXPLOSION_SQL = """
WITH c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
contrib AS (SELECT l_partkey, c, CAST(c * c AS BIGINT) AS pairs FROM c),
tot AS (SELECT CAST(SUM(pairs) AS DOUBLE) AS total_pairs FROM contrib)
SELECT l_partkey, c, pairs, ROUND(CAST(pairs AS DOUBLE) / total_pairs, 6) AS share
FROM contrib CROSS JOIN tot
ORDER BY pairs DESC, l_partkey ASC
LIMIT 10
"""


def ap_kmv_sources(spark: SparkSession, sf: str) -> DataFrame:
    """KMV bottom-k distinct sketch (``sketches.kmv_profile/estimate``):
    per-source distinct-token estimates (k=16 so the estimator path is
    exercised at fixture vocab size) next to the exact counts. Like the
    CMS, the sketch is built on the portable hash family, so every kept
    hash value — and therefore the estimate — is reproduced by the
    DuckDB twin."""
    from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions

    docs = load_table(spark, sf, "documents")
    toks = ensure_min_partitions(docs.select("source", "text")).select(
        "source", F.explode(TX.tokens("text")).alias("tok")
    )
    prof = sketches.kmv_profile(toks, ["source"], "tok", k=16)
    est = sketches.kmv_estimate(prof, ["source"], k=16)
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").cast("bigint").alias("n_exact")
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            F.round("n_distinct_est", 6).alias("n_distinct_est"),
            "n_exact",
        )
        .orderBy("source")
    )


_AP_KMV_SQL = f"""
WITH toks AS (SELECT source, unnest({_D_TOKS}) AS tok FROM documents),
hashed AS (SELECT DISTINCT source, {ph.sql_mix(ph.sql_str_hash('tok'))} AS h FROM toks),
ranked AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rk FROM hashed),
g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS m_k
      FROM ranked WHERE rk <= 16 GROUP BY 1),
exact AS (SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact FROM toks GROUP BY 1)
SELECT g.source,
       ROUND(CASE WHEN n_kept < 16 THEN CAST(n_kept AS DOUBLE)
                  ELSE (15.0 * 2147483647.0) / CAST(m_k AS DOUBLE) END, 6) AS n_distinct_est,
       n_exact
FROM g JOIN exact ON g.source = exact.source
ORDER BY g.source
"""


def ap_kmv_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise set overlap between sources from their KMV sketches
    (``sketches.kmv_jaccard``) — the set-operation HLL cannot answer —
    next to the exact Jaccard from a token-keyed equi self-join. Pair
    enumeration runs at source-count grain (#sources², never data²)."""
    from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions

    docs = load_table(spark, sf, "documents")
    toks = (
        ensure_min_partitions(docs.select("source", "text"))
        .select("source", F.explode(TX.tokens("text")).alias("tok"))
        .distinct()
    )
    prof = sketches.kmv_profile(toks, ["source"], "tok", k=16)
    est = sketches.kmv_jaccard(prof, ["source"], k=16)
    sizes = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        toks.select(F.col("source").alias("ca"), "tok")
        .join(toks.select(F.col("source").alias("cb"), "tok"), "tok")
        .filter(F.col("ca") < F.col("cb"))
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = (
        inter.join(sizes.select(F.col("source").alias("ca"), F.col("n").alias("na")), "ca")
        .join(sizes.select(F.col("source").alias("cb"), F.col("n").alias("nb")), "cb")
        .select(
            "ca",
            "cb",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
            ).alias("jaccard_exact"),
        )
    )
    return (
        est.join(exact, ["ca", "cb"])
        .select("ca", "cb", "jaccard_est", "jaccard_exact")
        .orderBy("ca", "cb")
    )


_AP_KMV_JACCARD_SQL = f"""
WITH toks AS (SELECT DISTINCT source, unnest({_D_TOKS}) AS tok FROM documents),
hashed AS (SELECT DISTINCT source, {ph.sql_mix(ph.sql_str_hash('tok'))} AS h FROM toks),
ranked AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rk FROM hashed),
prof AS (SELECT source, h FROM ranked WHERE rk <= 16),
cells AS (SELECT DISTINCT source AS c FROM prof),
cell_pairs AS (SELECT a.c AS ca, b.c AS cb FROM cells a JOIN cells b ON a.c < b.c),
members AS (
  SELECT ca, cb, ca AS c FROM cell_pairs UNION ALL SELECT ca, cb, cb AS c FROM cell_pairs
),
u AS (
  SELECT m.ca, m.cb, p.h,
         MAX(CASE WHEN p.source = m.ca THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN p.source = m.cb THEN 1 ELSE 0 END) AS in_b
  FROM members m JOIN prof p ON p.source = m.c
  GROUP BY 1, 2, 3
),
topk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY ca, cb ORDER BY h ASC) AS rk FROM u
),
est AS (
  SELECT ca, cb, ROUND(SUM(in_a * in_b) / COUNT(*), 6) AS jaccard_est
  FROM topk WHERE rk <= 16 GROUP BY 1, 2
),
sizes AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY 1),
inter AS (
  SELECT a.source AS ca, b.source AS cb, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
),
exact AS (
  SELECT i.ca, i.cb, ROUND(i.n_inter / (sa.n + sb.n - i.n_inter), 6) AS jaccard_exact
  FROM inter i JOIN sizes sa ON sa.source = i.ca JOIN sizes sb ON sb.source = i.cb
)
SELECT e.ca, e.cb, e.jaccard_est, x.jaccard_exact
FROM est e JOIN exact x ON e.ca = x.ca AND e.cb = x.cb
ORDER BY e.ca, e.cb
"""


def inc_join_view(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental JOIN-view maintenance
    (``incremental.delta_join`` + ``merge_agg_state``): the revenue-
    per-priority view refreshed from insert deltas on BOTH join inputs
    — Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — then state-merged with the
    old rollup. The oracle recomputes from the full tables: one truth,
    two plans (the incremental path touches delta-sized data only).
    Shares its oracle text with ``jx_salted_join`` — a third plan for
    the same answer."""
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        (SC.cents("l_extendedprice") * (F.lit(100) - SC.cents("l_discount"))).alias(
            "rev_c"
        ),
    )
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    li_old, li_delta = li.filter(F.col("okey") % 3 != 0), li.filter(
        F.col("okey") % 3 == 0
    )
    o_old, o_delta = orders.filter(F.col("okey") % 2 == 0), orders.filter(
        F.col("okey") % 2 == 1
    )

    def view_agg(joined: DataFrame) -> DataFrame:
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("rev_c").alias("rev_c"),
        )

    state_old = view_agg(li_old.join(o_old, "okey"))
    delta_state = view_agg(
        incremental.delta_join(li_old, li_delta, o_old, o_delta, ["okey"])
    )
    merged = incremental.merge_agg_state(
        state_old, delta_state, ["o_orderpriority"], sum_cols=["n_items", "rev_c"]
    )
    return merged.select(
        "o_orderpriority",
        F.col("n_items").cast("bigint").alias("n_items"),
        F.round(F.col("rev_c").cast("double") / F.lit(10000.0), 2).alias("revenue"),
    ).orderBy("o_orderpriority")


def sa_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement
    (``sampling.weighted_sample_es`` — Efraimidis–Spirakis A-ES with
    portable-hash uniforms): top-5 documents per source, selection
    probability ∝ length. The SELECTION itself is deterministic and
    engine-reproducible, not merely the sample size."""
    docs = load_table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    out = sampling.weighted_sample_es(
        docs, "doc_id", "n_chars", k=5, strata=("source",)
    )
    return out.select("doc_id", "source", "n_chars", F.col("rk").cast("int").alias("rk")).orderBy(
        "source", "rk"
    )


_SA_WEIGHTED_SQL = f"""
WITH pri AS (
  SELECT doc_id, source, n_chars,
         ln(({ph.sql_mix(ph.sql_str_hash("CAST(doc_id AS VARCHAR)"))} + 1) / 2147483648.0)
           / CAST(n_chars AS DOUBLE) AS p
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY p DESC, doc_id ASC) AS rk
  FROM pri
)
SELECT doc_id, source, n_chars, CAST(rk AS INT) AS rk FROM ranked WHERE rk <= 5
ORDER BY source, rk
"""


def gr_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census (``graph.triangle_count``, degree-oriented
    compact-forward — out-degree O(√m) bounds the wedge join for ANY
    degree distribution) over the exact 3-shingle Jaccard near-dup
    graph: the transitivity audit that says whether duplicate PAIRS
    form CLUSTERS (high clustering → connected-components dedup is
    safe; low → pair threshold too loose). Shared cached pair relation
    (``plans/doc_pairs``)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import jaccard_pairs

    pairs = jaccard_pairs(spark, sf, 0.5).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    return graph.triangle_count(pairs)


_GR_TRIANGLES_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e AS (
  SELECT a_id AS a, b_id AS b
  FROM shared JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
  WHERE n_shared / (sa.n_sh + sb.n_sh - n_shared) >= 0.5
),
deg AS (
  SELECT u, COUNT(*) AS d FROM (
    SELECT a AS u FROM e UNION ALL SELECT b AS u FROM e
  ) GROUP BY 1
),
agg AS (
  SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
         CAST((SELECT SUM(d * (d - 1)) / 2 FROM deg) AS BIGINT) AS n_wedges,
         CAST((SELECT COUNT(*)
               FROM e e1 JOIN e e2 ON e1.b = e2.a
                         JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT) AS n_triangles
)
SELECT n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0 THEN ROUND(3.0 * n_triangles / n_wedges, 6) ELSE 0.0 END AS global_clustering
FROM agg
"""


def ag_ab_test(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's t between two event cohorts ('click' vs 'error' on
    ``events.value``) from exact integer moment sums: each value
    quantizes ONCE to 2^-20 units (per-row IEEE, no accumulation
    order), sums/squares accumulate in int64/decimal(38,0), and the
    t statistic is ONE final double expression — the experimentation
    readout (is the metric shift real?) with bit-identical results at
    any parallelism. The 2^20 scale cancels inside t."""
    ev = load_table(spark, sf, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    vq = F.floor(F.col("value") * F.lit(1048576.0) + F.lit(0.5)).cast("bigint")
    is_a = (F.col("event_type") == "click").cast("int")
    g = ev.select(vq.alias("v"), is_a.alias("ia")).agg(
        F.sum("ia").cast("bigint").alias("na"),
        F.sum(1 - F.col("ia")).cast("bigint").alias("nb"),
        F.sum(F.col("ia") * F.col("v")).alias("s1a"),
        F.sum((1 - F.col("ia")) * F.col("v")).alias("s1b"),
        F.sum((F.col("ia") * F.col("v") * F.col("v")).cast("decimal(38,0)")).alias("s2a"),
        F.sum(((1 - F.col("ia")) * F.col("v") * F.col("v")).cast("decimal(38,0)")).alias("s2b"),
    )
    d38 = "decimal(38,0)"
    na, nb = F.col("na"), F.col("nb")
    ma = F.col("s1a").cast("double") / na.cast("double")
    mb = F.col("s1b").cast("double") / nb.cast("double")
    va = (na.cast(d38) * F.col("s2a") - F.col("s1a").cast(d38) * F.col("s1a").cast(d38)).cast(
        "double"
    ) / (na.cast("double") * (na.cast("double") - F.lit(1.0)))
    vb = (nb.cast(d38) * F.col("s2b") - F.col("s1b").cast(d38) * F.col("s1b").cast(d38)).cast(
        "double"
    ) / (nb.cast("double") * (nb.cast("double") - F.lit(1.0)))
    t = (ma - mb) / F.sqrt(va / na.cast("double") + vb / nb.cast("double"))
    return g.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(ma / F.lit(1048576.0), 6).alias("mean_a"),
        F.round(mb / F.lit(1048576.0), 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
    )


_AG_AB_SQL = """
WITH q AS (
  SELECT CAST(floor(value * 1048576.0 + 0.5) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
  FROM events WHERE event_type IN ('click', 'error')
),
g AS (
  SELECT CAST(SUM(ia) AS BIGINT) AS na, CAST(SUM(1 - ia) AS BIGINT) AS nb,
         CAST(SUM(ia * v) AS BIGINT) AS s1a, CAST(SUM((1 - ia) * v) AS BIGINT) AS s1b,
         CAST(SUM(CAST(ia * v * v AS HUGEINT)) AS HUGEINT) AS s2a,
         CAST(SUM(CAST((1 - ia) * v * v AS HUGEINT)) AS HUGEINT) AS s2b
  FROM q
)
SELECT na AS n_a, nb AS n_b,
       ROUND(CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) / 1048576.0, 6) AS mean_a,
       ROUND(CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE) / 1048576.0, 6) AS mean_b,
       ROUND(
         (CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE))
         / sqrt(
             CAST(CAST(na AS HUGEINT) * s2a - CAST(s1a AS HUGEINT) * CAST(s1a AS HUGEINT) AS DOUBLE)
               / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE)
             + CAST(CAST(nb AS HUGEINT) * s2b - CAST(s1b AS HUGEINT) * CAST(s1b AS HUGEINT) AS DOUBLE)
               / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE)
           ), 6) AS t_stat
FROM g
"""


def qa_release_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Release-decision capstone: the four independent QA gates
    (constraint audit, volume anomaly, k-anonymity, MAD outliers)
    composed into ONE verdict relation — gate, observed metric,
    threshold, pass. Like ``px_training_mix`` this hash-proves the
    gates COMPOSE (each is also individually oracle-proven); a
    pipeline ships the snapshot only when every row passes. Each gate
    reduces to a 1-row summary before the union, so the composition
    adds no data movement beyond the gates themselves."""
    # r11 (guide §1.2/§2.4 — shared-scan multi-aggregate): composed
    # verbatim, the four gates scanned orders FIVE times (audit's
    # conditional agg, audit's FK anti-join probe, and the three
    # mad_outlier_report passes). The audit checks, the FK orphan
    # count, and mad's FINAL flagging pass are all row-conditional
    # sums over the same orders rows, so they fuse into ONE scan with
    # the tiny per-status med/mad relations and the distinct customer
    # key set broadcast-attached (left joins on ≤1-match keys: row
    # count provably unchanged). The med and dev-median passes stay
    # (exact medians need their own passes) — 5 orders scans → 3.
    # Every reduction below reproduces the composed gates' values
    # exactly: FK orphans = non-null custkeys with no broadcast match
    # (≡ the left-anti count); mad's Σ n_rows = rows whose status
    # joins med (the marker sum — every status present in orders is
    # in med, so a NULL-status row is excluded by both forms); the
    # outlier predicate is NULL (→ 0) exactly where the old inner
    # joins dropped the row. The four component gates keep their own
    # oracle-proven declared queries, unchanged.
    o = load_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        "o_orderstatus",
        SC.cents(F.col("o_totalprice")).alias("price_c"),
    )
    mo = o.select("o_orderstatus", "price_c")
    med = mo.groupBy("o_orderstatus").agg(
        F.median(F.col("price_c")).alias("__med"),
        F.lit(1).alias("__mm"),
    )
    madrel = (
        mo.join(F.broadcast(med.select("o_orderstatus", "__med")), "o_orderstatus")
        .withColumn("__dev", F.abs(F.col("price_c") - F.col("__med")))
        .groupBy("o_orderstatus")
        .agg(F.median("__dev").alias("__mad"))
    )
    ck = (
        load_table(spark, sf, "customer")
        .select(F.col("c_custkey").alias("o_custkey"))
        .distinct()
        .withColumn("__fk_hit", F.lit(1))
    )
    joined = (
        o.join(F.broadcast(ck), "o_custkey", "left")
        .join(F.broadcast(med), "o_orderstatus", "left")
        .join(F.broadcast(madrel), "o_orderstatus", "left")
    )
    one = joined.agg(
        (
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
            + F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
            + (
                F.count(F.lit(1))
                - F.countDistinct(F.col("o_orderkey"))
                - F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            )
            + F.sum(
                F.when(
                    F.col("o_totalprice").isNotNull()
                    & (~F.col("o_totalprice").between(F.lit(0.0), F.lit(400000.0))),
                    1,
                ).otherwise(0)
            )
            + F.sum(
                F.when(
                    ~F.coalesce(
                        F.col("o_orderstatus").isin("O", "F", "P"), F.lit(False)
                    ),
                    1,
                ).otherwise(0)
            )
            + F.sum(
                F.when(
                    F.col("o_custkey").isNotNull() & F.col("__fk_hit").isNull(), 1
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("audit_metric"),
        F.sum(
            F.when(
                F.abs(F.col("price_c") - F.col("__med"))
                > F.lit(5) * F.col("__mad"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("mad_metric"),
        F.floor(
            F.sum(F.when(F.col("__mm").isNotNull(), 1).otherwise(0)) / F.lit(100.0)
        )
        .cast("bigint")
        .alias("mad_threshold"),
    )
    two = (
        one.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("audit_violations").alias("gate"),
                        F.col("audit_metric").alias("metric"),
                        F.lit(0).cast("bigint").alias("threshold"),
                    ),
                    F.struct(
                        F.lit("mad_outlier_rows").alias("gate"),
                        F.col("mad_metric").alias("metric"),
                        F.col("mad_threshold").alias("threshold"),
                    ),
                )
            ).alias("g")
        ).select("g.gate", "g.metric", "g.threshold")
    )
    anom = qa_volume_anomaly(spark, sf).agg(
        F.sum(F.col("is_anomaly").cast("int")).cast("bigint").alias("metric")
    ).select(
        F.lit("anomalous_days").alias("gate"),
        "metric",
        F.lit(2).cast("bigint").alias("threshold"),
    )
    kanon = qa_k_anonymity(spark, sf).select(
        F.lit("k_anonymity_rows_at_risk").alias("gate"),
        F.col("rows_at_risk").cast("bigint").alias("metric"),
        F.lit(0).cast("bigint").alias("threshold"),
    )
    return (
        two.unionByName(anom)
        .unionByName(kanon)
        .withColumn("pass", F.col("metric") <= F.col("threshold"))
        .orderBy("gate")
    )


_QA_RELEASE_SQL = f"""
WITH audit AS ({_QA_AUDIT_SQL}),
anom AS ({_QA_ANOMALY_SQL}),
kan AS ({_QA_KANON_SQL}),
mad AS ({_QA_MAD_SQL})
SELECT gate, metric, threshold, metric <= threshold AS pass FROM (
  SELECT 'audit_violations' AS gate, CAST(SUM(n_violations) AS BIGINT) AS metric,
         CAST(0 AS BIGINT) AS threshold FROM audit
  UNION ALL
  SELECT 'anomalous_days', CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT),
         CAST(2 AS BIGINT) FROM anom
  UNION ALL
  SELECT 'k_anonymity_rows_at_risk', CAST(rows_at_risk AS BIGINT), CAST(0 AS BIGINT) FROM kan
  UNION ALL
  SELECT 'mad_outlier_rows', CAST(SUM(n_outliers) AS BIGINT),
         CAST(floor(SUM(n_rows) / 100.0) AS BIGINT) FROM mad
)
ORDER BY gate
"""


def tx_skipgram_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed token association (skip-gram PMI, window ±2): which
    tokens travel TOGETHER within a 2-token horizon — the word2vec-era
    co-occurrence statistic, rendered engine-exact. Pair slots are
    built JVM-side by ``zip_with`` over shifted slices (offset 1 and
    offset 2) — ZERO shuffle and no posexplode self-join, the same
    mechanism as the bigram LM. PMI = ln(N·c_ab/(c_a·c_b)) from exact
    integer counts in one final IEEE expression; pairs are
    canonicalized unordered (least/greatest) and thresholded on
    support before ranking."""
    from movie_data_etl_pipeline_spark.sources.parquet import ensure_min_partitions

    docs = load_table(spark, sf, "documents")
    t = TX.tokens("text")
    base = ensure_min_partitions(docs.select(t.alias("t"))).filter(F.size("t") >= 2)

    def offset_pairs(o: int):
        return F.zip_with(
            F.slice(F.col("t"), 1, F.greatest(F.size("t") - o, F.lit(0))),
            F.slice(F.col("t"), o + 1, F.greatest(F.size("t") - o, F.lit(0))),
            lambda a, b: F.struct(
                F.least(a, b).alias("x"), F.greatest(a, b).alias("y")
            ),
        )
    pairs = base.select(
        F.explode(F.concat(offset_pairs(1), offset_pairs(2))).alias("p")
    ).select("p.x", "p.y")
    cab = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    marg = (
        pairs.select(F.col("x").alias("tok"))
        .unionByName(pairs.select(F.col("y").alias("tok")))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    total = pairs.agg((F.count(F.lit(1)) * 2).cast("double").alias("n_slots"))
    return (
        cab.filter(F.col("c_ab") >= 50)
        .join(marg.select(F.col("tok").alias("x"), F.col("c").alias("cx")), "x")
        .join(marg.select(F.col("tok").alias("y"), F.col("c").alias("cy")), "y")
        .crossJoin(F.broadcast(total))
        .select(
            "x",
            "y",
            "c_ab",
            F.round(
                F.log(
                    F.col("n_slots")
                    * F.col("c_ab").cast("double")
                    / (F.col("cx").cast("double") * F.col("cy").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
        .limit(20)
    )


_TX_SKIPGRAM_SQL = f"""
WITH t AS (SELECT {_D_TOKS} AS t FROM documents),
p1 AS (
  SELECT unnest([
    {{'x': least(t[i], t[i+1]), 'y': greatest(t[i], t[i+1])}} for i in range(1, len(t))
  ]) AS p FROM t WHERE len(t) >= 2
),
p2 AS (
  SELECT unnest([
    {{'x': least(t[i], t[i+2]), 'y': greatest(t[i], t[i+2])}} for i in range(1, len(t) - 1)
  ]) AS p FROM t WHERE len(t) >= 3
),
pairs AS (SELECT p.x AS x, p.y AS y FROM p1 UNION ALL SELECT p.x, p.y FROM p2),
cab AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_ab FROM pairs GROUP BY 1, 2),
marg AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT x AS tok FROM pairs UNION ALL SELECT y AS tok FROM pairs
  ) GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) * 2 AS DOUBLE) AS n_slots FROM pairs)
SELECT c.x, c.y, c.c_ab,
       ROUND(ln(n_slots * CAST(c_ab AS DOUBLE)
                / (CAST(mx.c AS DOUBLE) * CAST(my.c AS DOUBLE))), 6) AS pmi
FROM cab c
JOIN marg mx ON mx.tok = c.x
JOIN marg my ON my.tok = c.y
CROSS JOIN total
WHERE c.c_ab >= 50
ORDER BY pmi DESC, c.x ASC, c.y ASC
LIMIT 20
"""


def tx_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Word-level BPE merge learning
    (``text_analysis.learn_bpe_merges``): three rounds of count →
    deterministic top-pick → corpus-wide greedy merge. The oracle
    unrolls the same three rounds as CTEs with DuckDB ``list_reduce``
    replaying the identical leftmost-first fold — a value-checked
    oracle for an ITERATIVE, data-dependent learning loop (same
    discipline as the PageRank unrolled-iteration twin)."""
    docs = load_table(spark, sf, "documents")
    return text_analysis.learn_bpe_merges(docs, rounds=3)


def _bpe_sql(rounds: int = 3) -> str:
    parts = [
        f"t0 AS (SELECT {_D_TOKS} AS t FROM documents WHERE len({_D_TOKS}) >= 2)"
    ]
    for r in range(1, rounds + 1):
        prev = f"t{r-1}"
        parts.append(
            f"p{r} AS (SELECT p.x AS x, p.y AS y FROM (SELECT unnest("
            f"[{{'x': t[i], 'y': t[i+1]}} for i in range(1, len(t))]) AS p FROM {prev}))"
        )
        parts.append(
            f"m{r} AS (SELECT x, y, COUNT(*) AS c FROM p{r} GROUP BY 1, 2 "
            f"ORDER BY c DESC, x ASC, y ASC LIMIT 1)"
        )
        if r < rounds:
            parts.append(
                f"t{r} AS (SELECT list_reduce(list_prepend([]::VARCHAR[], [[z] for z in t]), "
                f"(acc, cur) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.x AND cur[1] = m.y "
                f"THEN list_concat(acc[1:len(acc)-1], [m.x || ' ' || m.y]) "
                f"ELSE list_concat(acc, cur) END) AS t FROM {prev} CROSS JOIN m{r} m)"
            )
    selects = [
        f"SELECT {r} AS round, x AS lhs, y AS rhs, CAST(c AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, rounds + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects) + "\nORDER BY round"


_TX_BPE_SQL = _bpe_sql(3)


def ev_debounce(spark: SparkSession, sf: str) -> DataFrame:
    """Telemetry debounce / alert suppression: per (user, event
    type), keep only the FIRST event of each burst, where a burst
    chains events less than 4 hours apart — the dedup that collapses
    retry storms and repeated alerts without touching separated
    occurrences. Same
    two-window sessionization spine as ``ev_attribution`` (gap flag →
    running burst id → rank-1 keep), one ``(user, type)`` exchange."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    out = (
        ev.withColumn(
            "new_b", F.when(gap.isNull() | (gap > 14_400_000_000), 1).otherwise(0)
        )
        .withColumn(
            "bid",
            F.sum("new_b").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("user_id", "event_type", "bid").orderBy("ts", "event_id")
        ))
        .filter(F.col("rn") == 1)
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _TS).alias("ts"),
    ).orderBy("event_id")


_EV_DEBOUNCE_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) > 14400000000
              THEN 1 ELSE 0 END AS new_b
  FROM events
),
s AS (
  SELECT *, SUM(new_b) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bid
  FROM e
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type, bid ORDER BY ts, event_id) AS rn
  FROM s
)
SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
FROM r WHERE rn = 1 ORDER BY event_id
"""


def qa_fk_repair(spark: SparkSession, sf: str) -> DataFrame:
    """Referential repair report: facts referencing a missing dimension
    row (here: suppliers thinned by ``s_suppkey % 97 = 3`` to
    synthesize orphans) are counted into quarantine and a stub-dim
    plan — the warehouse-loading decision (late-arriving dimension
    handling) as one broadcast-anti-join scan + key-grain distinct."""
    li = load_table(spark, sf, "lineitem").select("l_suppkey")
    supp = load_table(spark, sf, "supplier").filter(
        F.col("s_suppkey") % 97 != 3
    ).select("s_suppkey")
    orphan = li.join(
        supp, li.l_suppkey == supp.s_suppkey, "left_anti"
    )
    report = orphan.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_quarantined"),
        F.countDistinct("l_suppkey").cast("bigint").alias("stub_dims_needed"),
    )
    total = li.agg(F.count(F.lit(1)).cast("bigint").alias("rows_total"))
    return report.crossJoin(F.broadcast(total)).select(
        "rows_total",
        "rows_quarantined",
        (F.col("rows_total") - F.col("rows_quarantined")).cast("bigint").alias("rows_ok"),
        "stub_dims_needed",
    )


_QA_FK_REPAIR_SQL = """
WITH supp AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 97 <> 3),
orphan AS (
  SELECT l_suppkey FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supp)
)
SELECT CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS rows_total,
       CAST(COUNT(*) AS BIGINT) AS rows_quarantined,
       CAST((SELECT COUNT(*) FROM lineitem) - COUNT(*) AS BIGINT) AS rows_ok,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS stub_dims_needed
FROM orphan
"""


def ag_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information between quantity and price (10×10 fixed
    bins): the feature-dependence readout, computed engine-exact with
    the KL discipline from ``source_divergence`` — each CELL's
    ln(N·c_xy/(c_x·c_y)) prices once into 2^-20 integer units, the MI
    sum is an exact int64 weighted sum, ONE final division. Shuffle
    domain = 100 cells."""
    # integer `div` on BOTH engines — a double-division + cast would
    # diverge (Spark cast truncates, DuckDB CAST rounds)
    li = load_table(spark, sf, "lineitem").select(
        F.least(
            F.lit(9).cast("bigint"),
            F.expr("(CAST(l_quantity AS BIGINT) - 1) div 5"),
        ).alias("qx"),
        F.least(
            F.lit(9).cast("bigint"),
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) div 1100000"),
        ).alias("py"),
    )
    cells = li.groupBy("qx", "py").agg(F.count(F.lit(1)).alias("c_xy"))
    mx = cells.groupBy("qx").agg(F.sum("c_xy").alias("c_x"))
    my = cells.groupBy("py").agg(F.sum("c_xy").alias("c_y"))
    n = cells.agg(F.sum("c_xy").cast("double").alias("n"))
    priced = (
        cells.join(mx, "qx")
        .join(my, "py")
        .crossJoin(F.broadcast(n))
        .select(
            "c_xy",
            F.floor(
                F.log(
                    F.col("n")
                    * F.col("c_xy").cast("double")
                    / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
                )
                * F.lit(1048576.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("u"),
        )
    )
    return priced.agg(
        F.sum("c_xy").cast("bigint").alias("n_rows"),
        F.round(
            F.sum(F.col("c_xy") * F.col("u")).cast("double")
            / F.sum("c_xy").cast("double")
            / F.lit(1048576.0),
            6,
        ).alias("mutual_info_nats"),
    )


_AG_MI_SQL = """
WITH b AS (
  SELECT LEAST(9, (CAST(l_quantity AS BIGINT) - 1) // 5) AS qx,
         LEAST(9, CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 1100000) AS py
  FROM lineitem
),
cells AS (SELECT qx, py, COUNT(*) AS c_xy FROM b GROUP BY 1, 2),
mx AS (SELECT qx, SUM(c_xy) AS c_x FROM cells GROUP BY 1),
my AS (SELECT py, SUM(c_xy) AS c_y FROM cells GROUP BY 1),
n AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n FROM cells),
priced AS (
  SELECT c_xy,
         CAST(floor(ln(n * CAST(c_xy AS DOUBLE) / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))
                    * 1048576.0 + 0.5) AS BIGINT) AS u
  FROM cells JOIN mx USING (qx) JOIN my USING (py) CROSS JOIN n
)
SELECT CAST(SUM(c_xy) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(c_xy * u) AS DOUBLE) / CAST(SUM(c_xy) AS DOUBLE) / 1048576.0, 6) AS mutual_info_nats
FROM priced
"""


def w6_sliding_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding 7-day distinct users per day — the DAU/WAU-style metric
    whose naive form (COUNT(DISTINCT) OVER a range frame) Spark
    doesn't support and a per-day subquery would re-scan 7× . Exact
    decomposition: dedup to (user, day) grain once, explode each row
    to the ≤7 window-days it serves (bounded fan-out), dedup (user,
    window_day), count — every step linear, shuffle domain user-day."""
    ev = load_table(spark, sf, "events").select(
        F.col("user_id"), F.to_date("ts").alias("d")
    ).distinct()
    contrib = ev.select(
        "user_id",
        F.explode(
            F.expr("sequence(d, date_add(d, 6), interval 1 day)")
        ).alias("wd"),
    ).distinct()
    # keep only window-days that exist as event days (calendar edge:
    # trailing days past the data end would report partial windows)
    days = ev.select("d").distinct().withColumnRenamed("d", "wd")
    return (
        contrib.join(days, "wd")
        .groupBy("wd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("users_7d"))
        .select(F.date_format("wd", _DATE).alias("day"), "users_7d")
        .orderBy("day")
    )


_W6_SLIDING_SQL = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
contrib AS (
  SELECT DISTINCT user_id, CAST(d + INTERVAL (i) DAY AS DATE) AS wd
  FROM ud, generate_series(0, 6) AS g(i)
),
days AS (SELECT DISTINCT d AS wd FROM ud)
SELECT strftime(CAST(c.wd AS DATE), '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS users_7d
FROM contrib c JOIN days USING (wd)
GROUP BY 1 ORDER BY 1
"""


def qa_seasonal_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonality-adjusted volume gate: daily event counts scored
    against their OWN day-of-week baseline (Monday vs the Mondays) —
    the fix for plain z-scores flagging every weekend. Baseline
    mean/variance from exact integer power sums per weekday (7-row
    relation, broadcast back); one final IEEE expression per day."""
    ev = load_table(spark, sf, "events").select(F.to_date("ts").alias("d"))
    daily = ev.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    wd = daily.withColumn("dow", F.dayofweek("d"))
    base = wd.groupBy("dow").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    scored = wd.join(F.broadcast(base), "dow").select(
        F.date_format("d", _DATE).alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round(
            (
                F.col("n").cast("double")
                - F.col("s1").cast("double") / F.col("k").cast("double")
            )
            / F.sqrt(
                (
                    F.col("k").cast("double") * F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1").cast("double")
                )
                / (F.col("k").cast("double") * (F.col("k").cast("double") - F.lit(1.0)))
            ),
            6,
        ).alias("z_dow"),
    )
    return scored.orderBy("day")


_QA_SEASONAL_SQL = """
WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1),
wd AS (SELECT d, n, dayofweek(d) + 1 AS dow FROM daily),
base AS (
  SELECT dow, COUNT(*) AS k, SUM(n) AS s1, SUM(n * n) AS s2 FROM wd GROUP BY 1
)
SELECT strftime(wd.d, '%Y-%m-%d') AS day, CAST(wd.n AS BIGINT) AS n_events,
       ROUND(
         (CAST(wd.n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
         / sqrt((CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0))), 6) AS z_dow
FROM wd JOIN base USING (dow)
ORDER BY day
"""


def qa_entropy_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Column-profiling readout: per profiled column, distinct count,
    Shannon entropy (nats), and top-value share — the quick "is this
    column an id, an enum, or junk" classifier. Entropy uses the
    quantized-ln discipline (per-VALUE ln priced once to 2^-20
    integer units, exact weighted sums); each column costs one
    value-grain groupBy, unioned at 1-row-per-column grain."""
    li = load_table(spark, sf, "lineitem")

    def profile(col: str) -> DataFrame:
        vals = li.groupBy(F.col(col).cast("string").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        tot = vals.agg(
            F.sum("c").cast("double").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.max("c").cast("double").alias("top_c"),
        )
        priced = vals.crossJoin(F.broadcast(tot)).select(
            "c",
            "n",
            "n_distinct",
            "top_c",
            F.floor(
                F.log(F.col("n") / F.col("c").cast("double")) * F.lit(1048576.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("u"),
        )
        return priced.groupBy("n", "n_distinct", "top_c").agg(
            F.sum(F.col("c") * F.col("u")).alias("su")
        ).select(
            F.lit(col).alias("column"),
            F.col("n_distinct"),
            F.round(F.col("su").cast("double") / F.col("n") / F.lit(1048576.0), 6).alias(
                "entropy_nats"
            ),
            F.round(F.col("top_c") / F.col("n"), 6).alias("top_share"),
        )

    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_suppkey"]
    out = profile(cols[0])
    for c in cols[1:]:
        out = out.unionByName(profile(c))
    return out.orderBy("column")


def _entropy_sql_one(col: str) -> str:
    return f"""
  SELECT '{col}' AS "column", n_distinct,
         ROUND(CAST(SUM(c * u) AS DOUBLE) / ANY_VALUE(n) / 1048576.0, 6) AS entropy_nats,
         ROUND(ANY_VALUE(top_c) / ANY_VALUE(n), 6) AS top_share
  FROM (
    SELECT c, n, n_distinct, top_c,
           CAST(floor(ln(n / CAST(c AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS u
    FROM (SELECT CAST({col} AS VARCHAR) AS v, COUNT(*) AS c FROM lineitem GROUP BY 1)
    CROSS JOIN (
      SELECT CAST(SUM(c) AS DOUBLE) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS DOUBLE) AS top_c
      FROM (SELECT CAST({col} AS VARCHAR) AS v, COUNT(*) AS c FROM lineitem GROUP BY 1)
    )
  ) GROUP BY n_distinct"""


_QA_ENTROPY_SQL = (
    "SELECT * FROM (\n"
    + "\n  UNION ALL\n".join(
        _entropy_sql_one(c)
        for c in ["l_returnflag", "l_linestatus", "l_quantity", "l_suppkey"]
    )
    + "\n) ORDER BY \"column\""
)


def dd_canonical_pick(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup DECISION, end-to-end: near-dup pairs → connected
    components → per-cluster canonical pick by QUALITY (longest text,
    tie → smallest id), not by arbitrary min-id — the policy that
    keeps the best duplicate instead of a random one. Completes the
    chain the other dd_* queries build (pairs → clusters → what
    actually ships); the per-cluster argmax compiles to a pre-shuffle
    WindowGroupLimit. Shared cached components (``plans/doc_pairs``)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import dup_components

    docs = load_table(spark, sf, "documents")
    comp = dup_components(spark, sf, 0.8)
    membered = comp.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("id")
    )
    return (
        membered.withColumn("rk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("id"))).cast("bigint").alias(
                "canonical_doc"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).cast("bigint").alias(
                "canonical_chars"
            ),
        )
        .orderBy("component")
    )


_DD_CANONICAL_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT a_id, b_id FROM shared
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE n_shared / (sa.n_sh + sb.n_sh - n_shared) >= 0.8
),
sym AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION SELECT b_id, a_id FROM pairs
),
walk AS (
  SELECT src AS id, dst AS reach FROM sym
  UNION
  SELECT walk.id, sym.dst FROM walk JOIN sym ON walk.reach = sym.src
),
comps AS (
  SELECT id, LEAST(id, MIN(reach)) AS component FROM walk GROUP BY id
),
m AS (
  SELECT c.component, c.id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.component ORDER BY d.n_chars DESC, c.id ASC) AS rk
  FROM comps c JOIN documents d ON d.doc_id = c.id
)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MAX(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS canonical_doc,
       CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS canonical_chars
FROM m GROUP BY component ORDER BY component
"""


def qa_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorization gate: per order status, clamp prices at the exact
    p01/p99 ORDER STATISTICS (rank ⌈q·n⌉ over integer cents — no
    interpolation, engine-exact) and report the clamp counts plus the
    winsorized mean — the outlier treatment that, unlike dropping,
    keeps row counts stable for downstream joins. Order statistics
    come from the (status, value) histogram's cumulative counts, not
    a per-row sort."""
    o = load_table(spark, sf, "orders").select(
        "o_orderstatus", SC.cents("o_totalprice").alias("v")
    )
    hist = o.groupBy("o_orderstatus", "v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("o_orderstatus").orderBy("v")
    cum = hist.select(
        "o_orderstatus",
        "v",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(Window.partitionBy("o_orderstatus")).alias("n"),
    )
    bounds = cum.groupBy("o_orderstatus").agg(
        F.min(F.when(F.col("cum") * 100 >= F.col("n"), F.col("v"))).alias("lo"),
        F.min(F.when(F.col("cum") * 100 >= F.col("n") * 99, F.col("v"))).alias("hi"),
    )
    clamped = o.join(F.broadcast(bounds), "o_orderstatus").select(
        "o_orderstatus",
        "lo",
        "hi",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("v"))).alias("cv"),
        (F.col("v") < F.col("lo")).cast("int").alias("is_lo"),
        (F.col("v") > F.col("hi")).cast("int").alias("is_hi"),
    )
    return (
        clamped.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("is_lo").cast("bigint").alias("n_clamped_low"),
            F.sum("is_hi").cast("bigint").alias("n_clamped_high"),
            F.round(F.sum("cv").cast("double") / F.count(F.lit(1)) / 100.0, 6).alias(
                "winsorized_mean"
            ),
        )
        .orderBy("o_orderstatus")
    )


_QA_WINSORIZE_SQL = """
WITH o AS (
  SELECT o_orderstatus, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
),
hist AS (SELECT o_orderstatus, v, COUNT(*) AS c FROM o GROUP BY 1, 2),
cum AS (
  SELECT o_orderstatus, v,
         SUM(c) OVER (PARTITION BY o_orderstatus ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY o_orderstatus) AS n
  FROM hist
),
bounds AS (
  SELECT o_orderstatus,
         MIN(CASE WHEN cum * 100 >= n THEN v END) AS lo,
         MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS hi
  FROM cum GROUP BY 1
)
SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
       CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
       ROUND(CAST(SUM(GREATEST(lo, LEAST(hi, v))) AS DOUBLE) / COUNT(*) / 100.0, 6) AS winsorized_mean
FROM o JOIN bounds USING (o_orderstatus)
GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
"""


def ts_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day correlation between two daily business series
    (order count and revenue) — the co-movement monitor. Everything
    inside the frame is an EXACT integer window sum (counts, cents,
    cross products); the Pearson formula is one final IEEE expression
    per day, so the rolling statistic is engine- and partition-exact
    (built-in ``corr`` OVER would accumulate doubles in frame order).
    Day-grain relation → the unpartitioned window is bounded."""
    o = load_table(spark, sf, "orders").select(
        F.to_date("o_orderdate").alias("d"), SC.cents("o_totalprice").alias("rev_c")
    )
    daily = o.groupBy("d").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum("rev_c").alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    k = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("x").over(w).cast("double")
    sy = F.sum("y").over(w).cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).over(w).cast("double")
    syy = F.sum((F.col("y").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)")).over(w).cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).over(w).cast("double")
    den = F.sqrt((k * sxx - sx * sx) * (k * syy - sy * sy))
    out = daily.select(
        F.date_format("d", _DATE).alias("day"),
        F.col("x").cast("bigint").alias("n_orders"),
        F.when(den != 0, F.round((k * sxy - sx * sy) / den, 6)).alias("corr_7d"),
    )
    return out.orderBy("day")


_TS_ROLLCORR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders GROUP BY 1
),
win AS (
  SELECT d, x,
         CAST(COUNT(*) OVER w AS DOUBLE) AS k,
         CAST(SUM(x) OVER w AS DOUBLE) AS sx,
         CAST(SUM(y) OVER w AS DOUBLE) AS sy,
         CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) OVER w AS DOUBLE) AS syy,
         CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT strftime(d, '%Y-%m-%d') AS day, CAST(x AS BIGINT) AS n_orders,
       CASE WHEN sqrt((k * sxx - sx * sx) * (k * syy - sy * sy)) <> 0 THEN
         ROUND((k * sxy - sx * sy) / sqrt((k * sxx - sx * sx) * (k * syy - sy * sy)), 6)
       END AS corr_7d
FROM win ORDER BY day
"""


def ag_abc_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """ABC contribution analysis: suppliers ranked by revenue, classed
    A/B/C at the 80%/95% cumulative-share breakpoints — the
    concentration readout behind vendor prioritization. Share
    comparisons are exact integer cross-multiplications
    (cum·100 ≤ total·80), never a double share; the window runs at
    supplier grain (same bounded-aggregate exemption as
    ``qa_key_skew``)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_suppkey", SC.cents("l_extendedprice").alias("rev_c")
    )
    per = li.groupBy("l_suppkey").agg(F.sum("rev_c").alias("rev"))
    w = Window.orderBy(F.desc("rev"), F.asc("l_suppkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    classed = per.select(
        "l_suppkey",
        "rev",
        F.sum("rev").over(w).alias("cum"),
        F.sum("rev").over(tot).alias("total"),
    ).select(
        "l_suppkey",
        "rev",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("cls"),
        "total",
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.round(
                F.sum("rev").cast("double") / F.max("total").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("cls")
    )


_AG_ABC_SQL = """
WITH per AS (
  SELECT l_suppkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev
  FROM lineitem GROUP BY 1
),
classed AS (
  SELECT l_suppkey, rev,
         CASE WHEN SUM(rev) OVER (ORDER BY rev DESC, l_suppkey ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
                   <= SUM(rev) OVER () * 80 THEN 'A'
              WHEN SUM(rev) OVER (ORDER BY rev DESC, l_suppkey ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
                   <= SUM(rev) OVER () * 95 THEN 'B'
              ELSE 'C' END AS cls,
         SUM(rev) OVER () AS total
  FROM per
)
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(total) AS DOUBLE), 6) AS revenue_share
FROM classed GROUP BY cls ORDER BY cls
"""


def tx_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Threshold tuning without rescans: documents surviving a
    minimum-token filter, for TEN candidate thresholds, from ONE pass
    — each doc's count explodes to the ≤10 thresholds it clears
    (bounded fan-out), then a 10-row aggregate. The sweep that answers
    "where should the length floor sit" before committing a filter."""
    docs = load_table(spark, sf, "documents")
    n = TX.token_count("text")
    thresholds = list(range(10, 101, 10))
    base = docs.select(n.alias("n"))
    swept = base.select(
        F.explode(
            F.filter(
                F.array(*[F.lit(t) for t in thresholds]),
                lambda t: t <= F.col("n"),
            )
        ).alias("threshold")
    )
    return (
        swept.groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs_surviving"))
        .orderBy("threshold")
    )


_TX_SWEEP_SQL = f"""
WITH n AS (SELECT len({_D_TOKS}) AS n FROM documents),
s AS (
  SELECT unnest(list_filter([10, 20, 30, 40, 50, 60, 70, 80, 90, 100],
                            t -> t <= n)) AS threshold
  FROM n
)
SELECT threshold, CAST(COUNT(*) AS BIGINT) AS docs_surviving
FROM s GROUP BY threshold ORDER BY threshold
"""


def tx_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document sentence statistics through the ``sentences``
    Python UDTF (LATERAL table function — the row-to-rows API the
    scalar/aggregate surfaces can't express): sentence count and mean
    sentence length. The UDTF is a pure map stage (no shuffle); the
    oracle replays the identical split/trim/filter in DuckDB list
    expressions."""
    from movie_data_etl_pipeline_spark.functions.python_api import sentences

    spark.udtf.register("sentences_udtf", sentences)
    docs = load_table(spark, sf, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("__sent_in")
    per = spark.sql(
        """
        SELECT i.doc_id, s.pos, length(s.sentence) AS slen
        FROM __sent_in i, LATERAL sentences_udtf(i.text) s
        """
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
            F.round(
                F.sum("slen").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_sentence_chars"),
        )
        .orderBy("doc_id")
    )


_TX_SENTENCES_SQL = """
WITH parts AS (
  SELECT doc_id,
         list_filter([trim(x) for x in regexp_split_to_array(text, '[.!?]+')], x -> x <> '') AS ps
  FROM documents
),
s AS (SELECT doc_id, unnest(ps) AS sentence FROM parts)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sentences,
       ROUND(CAST(SUM(length(sentence)) AS DOUBLE) / COUNT(*), 6) AS mean_sentence_chars
FROM s GROUP BY doc_id ORDER BY doc_id
"""


def o13_scd2_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal LOOKUP against the SCD2 history ``o10_scd2_history``
    builds: each (customer, as-of date) probe resolves to its
    effective version (valid_from ≤ as_of < valid_to) — the read side
    of slowly-changing dimensions, completing the o10 write side. One
    hash join on the key + range filter; versions per key are bounded
    (≤2 here), so the join fan-out is bounded — never a time-range
    blowup."""
    hist = o10_scd2_history(spark, sf)
    cust = load_table(spark, sf, "customer").select("c_custkey")
    probes = cust.select(
        "c_custkey",
        F.explode(F.array(F.lit("2020-06-01"), F.lit("2021-06-01"))).alias("as_of"),
    )
    return (
        probes.join(hist, "c_custkey")
        .filter(
            (F.col("valid_from") <= F.col("as_of"))
            & (F.col("valid_to").isNull() | (F.col("as_of") < F.col("valid_to")))
        )
        .select("c_custkey", "as_of", "c_acctbal")
        .orderBy("c_custkey", "as_of")
    )


_O13_SCD2_LOOKUP_SQL = """
WITH hist AS (
  SELECT c_custkey, c_acctbal, '2020-01-01' AS valid_from,
         CASE WHEN c_custkey % 3 = 0 THEN '2021-01-01' ELSE NULL END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 100, '2021-01-01', NULL
  FROM customer WHERE c_custkey % 3 = 0
),
probes AS (
  SELECT c_custkey, unnest(['2020-06-01', '2021-06-01']) AS as_of FROM customer
)
SELECT p.c_custkey, p.as_of, h.c_acctbal
FROM probes p JOIN hist h ON p.c_custkey = h.c_custkey
WHERE h.valid_from <= p.as_of AND (h.valid_to IS NULL OR p.as_of < h.valid_to)
ORDER BY p.c_custkey, p.as_of
"""


# Benford first-digit reference shares, priced once in Python so both
# engines consume identical double literals: log10(1 + 1/d).
_BENFORD = {
    d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def qa_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit screen over order totals — the classic
    fabricated-numbers / junk-source detector. The first digit comes
    from the integer-cents STRING (exact, no log10 edge cases); one
    digit-grain aggregate, the Benford reference shares enter as
    identical double literals on both engines, and output stays at
    digit grain (9 rows) so no cross-row double summation exists to
    disagree on."""
    o = load_table(spark, sf, "orders").select(
        F.substring(SC.cents("o_totalprice").cast("string"), 1, 1).alias("digit")
    )
    counts = o.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    total = counts.agg(F.sum("n_obs").cast("double").alias("n"))
    expected = F.create_map(
        *[x for d, p in _BENFORD.items() for x in (F.lit(str(d)), F.lit(p))]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.round(F.col("n_obs").cast("double") / F.col("n"), 6).alias("share"),
            F.round(expected[F.col("digit")], 6).alias("benford_share"),
            F.round(
                F.col("n_obs").cast("double") / F.col("n")
                - expected[F.col("digit")],
                6,
            ).alias("excess"),
        )
        .orderBy("digit")
    )


_QA_BENFORD_SQL = f"""
WITH o AS (
  SELECT substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit
  FROM orders
),
counts AS (SELECT digit, COUNT(*) AS n_obs FROM o GROUP BY 1),
total AS (SELECT CAST(SUM(n_obs) AS DOUBLE) AS n FROM counts),
bf(digit, p) AS (VALUES {", ".join(f"('{d}', {p!r})" for d, p in _BENFORD.items())})
SELECT c.digit, CAST(c.n_obs AS BIGINT) AS n_obs,
       ROUND(CAST(c.n_obs AS DOUBLE) / n, 6) AS share,
       ROUND(bf.p, 6) AS benford_share,
       ROUND(CAST(c.n_obs AS DOUBLE) / n - bf.p, 6) AS excess
FROM counts c JOIN bf ON bf.digit = c.digit CROSS JOIN total
ORDER BY c.digit
"""


def sa_systematic(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic sampling: every 100th lineitem row under the global
    ``(l_orderkey, l_linenumber)`` order — the evenly-spaced audit
    sample regulators ask for, built on ``indexing.global_row_number``
    (the two-phase numbering; the naive ROW_NUMBER() OVER () form
    funnels the table through one task)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", SC.cents("l_extendedprice").alias("price_c")
    )
    numbered = indexing.global_row_number(
        li, ["l_orderkey", "l_linenumber"], out_col="rn"
    )
    return (
        numbered.filter(F.col("rn") % 100 == 1)
        .select("rn", "l_orderkey", "l_linenumber", "price_c")
        .orderBy("rn")
    )


_SA_SYSTEMATIC_SQL = """
WITH n AS (
  SELECT l_orderkey, l_linenumber, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
)
SELECT rn, l_orderkey, l_linenumber, price_c FROM n WHERE rn % 100 = 1 ORDER BY rn
"""


def qa_balance_check(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table reconciliation: does each order's stored total
    equal the sum of its line items? One row of finance-grade truth —
    matched orders, mismatched orders, orders with no lines at all,
    and the absolute drift — from one fact aggregate + one outer
    join. The fixture violates the invariant heavily (deliberately
    useful: the report carries real signal, not a vacuous zero)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", SC.cents("l_extendedprice").alias("price_c")
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum("price_c").alias("li_c"))
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", SC.cents("o_totalprice").alias("o_c")
    )
    j = o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("li_c").isNull().cast("int")).cast("bigint").alias("n_no_lines"),
        F.sum(
            (F.col("li_c").isNotNull() & (F.col("o_c") != F.col("li_c"))).cast("int")
        )
        .cast("bigint")
        .alias("n_mismatched"),
        F.round(
            F.sum(
                F.when(
                    F.col("li_c").isNotNull(),
                    F.abs(F.col("o_c") - F.col("li_c")),
                ).otherwise(F.lit(0))
            ).cast("double")
            / 100.0,
            2,
        ).alias("total_abs_drift"),
    )


_QA_BALANCE_SQL = """
WITH per_order AS (
  SELECT l_orderkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS li_c
  FROM lineitem GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN li_c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
       CAST(SUM(CASE WHEN li_c IS NOT NULL AND CAST(ROUND(o_totalprice * 100) AS BIGINT) <> li_c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       ROUND(CAST(SUM(CASE WHEN li_c IS NOT NULL
                      THEN ABS(CAST(ROUND(o_totalprice * 100) AS BIGINT) - li_c)
                      ELSE 0 END) AS DOUBLE) / 100.0, 2) AS total_abs_drift
FROM orders LEFT JOIN per_order ON o_orderkey = l_orderkey
"""


def ev_survival_km(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan–Meier survival over time-to-first-purchase with proper
    right-censoring (users who never purchase are censored at the
    observation end, not dropped — dropping them is the classic
    churn-analysis bias). The survival curve is a RUNNING PRODUCT
    Π(1−dⱼ/nⱼ) — order-sensitive in doubles — so each day's factor
    prices ln((n−d)/n) ONCE into 2^-20 integer units and the product
    becomes an exact integer cumsum, exp'd once per row: engine- and
    partition-exact survival estimates. All relations after the
    per-user reduction are at day-offset grain (bounded)."""
    ev = load_table(spark, sf, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    obs_end = ev.agg(F.max("ts").alias("end_ts"))
    durations = per_user.crossJoin(F.broadcast(obs_end)).select(
        F.when(
            F.col("first_purchase").isNotNull(),
            F.datediff(F.col("first_purchase"), F.col("first_seen")),
        )
        .otherwise(F.datediff(F.col("end_ts"), F.col("first_seen")))
        .cast("bigint")
        .alias("k"),
        F.col("first_purchase").isNotNull().cast("int").alias("event"),
    )
    day = durations.groupBy("k").agg(
        F.sum("event").cast("bigint").alias("d"),
        F.sum(1 - F.col("event")).cast("bigint").alias("c"),
    )
    w_desc = Window.orderBy("k").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    risk = day.select(
        "k",
        "d",
        F.sum(F.col("d") + F.col("c")).over(w_desc).alias("n_risk"),
    )
    # d == n_risk (everyone still at risk experiences the event) sends
    # the factor to 0 — S is identically 0 from there on; priced
    # explicitly rather than through ln(0) (DuckDB errors where Spark
    # returns -inf)
    u = F.when(
        (F.col("d") > 0) & (F.col("n_risk") > F.col("d")),
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * F.lit(1048576.0)
            + F.lit(0.5)
        ).cast("double"),
    ).otherwise(F.lit(0.0))
    w_asc = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    zeroed = F.max((F.col("d") == F.col("n_risk")).cast("int")).over(w_asc)
    return (
        risk.select("k", "d", "n_risk", u.alias("u"))
        .select(
            "k",
            "d",
            "n_risk",
            F.when(zeroed == 1, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.sum("u").over(w_asc) / F.lit(1048576.0)), 6)
            )
            .alias("s_hat"),
        )
        .orderBy("k")
    )


_EV_SURVIVAL_SQL = """
WITH per_user AS (
  SELECT user_id, MIN(ts) AS first_seen,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY 1
),
obs AS (SELECT MAX(ts) AS end_ts FROM events),
durations AS (
  SELECT CASE WHEN first_purchase IS NOT NULL
              THEN datediff('day', CAST(first_seen AS DATE), CAST(first_purchase AS DATE))
              ELSE datediff('day', CAST(first_seen AS DATE), CAST(end_ts AS DATE)) END AS k,
         CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM per_user CROSS JOIN obs
),
day AS (
  SELECT CAST(k AS BIGINT) AS k, CAST(SUM(event) AS BIGINT) AS d,
         CAST(SUM(1 - event) AS BIGINT) AS c
  FROM durations GROUP BY 1
),
risk AS (
  SELECT k, d,
         SUM(d + c) OVER (ORDER BY k ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
  FROM day
),
priced AS (
  SELECT k, d, n_risk,
         CASE WHEN d > 0 AND n_risk > d THEN
           CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1048576.0 + 0.5) AS DOUBLE)
         ELSE 0.0 END AS u
  FROM risk
)
SELECT k, d, CAST(n_risk AS BIGINT) AS n_risk,
       CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN 0.0
            ELSE ROUND(exp(SUM(u) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           / 1048576.0), 6) END AS s_hat
FROM priced ORDER BY k
"""


def dd_survivorship(spark: SparkSession, sf: str) -> DataFrame:
    """Golden-record construction (MDM survivorship): where
    ``dd_canonical_pick`` keeps one ROW per duplicate cluster, this
    merges the best value per FIELD — majority language (deterministic
    (count DESC, value ASC) tie-break), maximum length, minimum
    source — the rule set that makes the surviving record better than
    any single member. Field rules are one aggregate over the
    membered relation plus one mode window. Shared cached components
    (``plans/doc_pairs``)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import dup_components

    docs = load_table(spark, sf, "documents")
    comp = dup_components(spark, sf, 0.8)
    membered = comp.join(
        docs.select(
            F.col("doc_id").alias("id"), "lang", "source", "n_chars"
        ),
        "id",
    ).persist()
    base = membered.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max("n_chars").cast("bigint").alias("golden_chars"),
        F.min("source").alias("golden_source"),
    )
    lang_counts = membered.groupBy("component", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("component").orderBy(F.desc("c"), F.asc("lang"))
    golden_lang = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component", F.col("lang").alias("golden_lang"))
    )
    return base.join(golden_lang, "component").orderBy("component")


_DD_SURVIVORSHIP_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT a_id, b_id FROM shared
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE n_shared / (sa.n_sh + sb.n_sh - n_shared) >= 0.8
),
sym AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION SELECT b_id, a_id FROM pairs
),
walk AS (
  SELECT src AS id, dst AS reach FROM sym
  UNION
  SELECT walk.id, sym.dst FROM walk JOIN sym ON walk.reach = sym.src
),
comps AS (
  SELECT id, LEAST(id, MIN(reach)) AS component FROM walk GROUP BY id
),
m AS (
  SELECT c.component, c.id, d.lang, d.source, d.n_chars
  FROM comps c JOIN documents d ON d.doc_id = c.id
),
base AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(MAX(n_chars) AS BIGINT) AS golden_chars,
         MIN(source) AS golden_source
  FROM m GROUP BY component
),
lc AS (
  SELECT component, lang, COUNT(*) AS c,
         ROW_NUMBER() OVER (PARTITION BY component ORDER BY COUNT(*) DESC, lang ASC) AS rn
  FROM m GROUP BY component, lang
)
SELECT b.component, b.n_members, b.golden_chars, b.golden_source, lc.lang AS golden_lang
FROM base b JOIN lc ON lc.component = b.component AND lc.rn = 1
ORDER BY b.component
"""


def ag_theil_sen(spark: SparkSession, sf: str) -> DataFrame:
    """Theil–Sen robust trend over the daily revenue series: the
    MEDIAN of all pairwise slopes (29% breakdown point vs OLS's 0% —
    one bad day cannot bend it; the robust complement to
    ``ag_ols_brand``). Pairwise slopes are per-row IEEE ratios of
    exact integers and the median is an ORDER STATISTIC, not an
    accumulation — so unlike a double sum, the estimate is engine- and
    partition-exact. The pair join runs at DAY grain (d² of a bounded
    relation, the same metadata-grain exemption as the cell-pair
    sketches); intercept = median of per-day residuals against the
    fitted slope."""
    o = load_table(spark, sf, "orders").select(
        F.to_date("o_orderdate").alias("d"), SC.cents("o_totalprice").alias("rev_c")
    )
    # day-grain relation, reused by BOTH the slope branch and the
    # residual branch — truncate lineage so the orders scan + daily
    # aggregation run once, not once per branch (measured 9.8 -> ~5 s
    # at sf0.1). The d-non-null filter pins the C(nd,2) count identity
    # below (ADVICE-r10): a NULL day would be counted in nd while its
    # NULL x is excluded from pairs by xa < xb, shifting the median
    # rank. A NULL d never reaches the median/residual math anyway
    # (NULL slopes and residuals are ignored by both engines), so the
    # filter is a no-op on results and makes the invariant explicit.
    daily = (
        o.filter(F.col("d").isNotNull())
        .groupBy("d")
        .agg(F.sum("rev_c").alias("y"))
        .localCheckpoint(eager=True)
    )
    base = daily.select(
        F.datediff(F.col("d"), F.lit("1992-01-01").cast("date")).cast("bigint").alias("x"),
        "y",
    )
    a = base.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = base.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.crossJoin(b)
        .filter(F.col("xa") < F.col("xb"))
        .select(
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("s")
        )
    )
    # exact interpolating median by DISTRIBUTED sort + rank selection
    # (indexing.global_row_number) instead of the percentile
    # aggregate: F.median funnels all d² slopes through one
    # aggregation buffer (measured 9.7 s on 2.9M pairs at sf0.1; the
    # two-phase rank path does the same exact selection in ~1 s and
    # keeps every stage parallel). lo + (hi − lo)/2 reproduces the
    # engines' shared even-count interpolation formula bit-for-bit.
    # r10 (guide §1.2 — don't compute things twice): the rank selection
    # needs the slope COUNT, which the old form got by a full extra
    # generation pass over the ~d² slope pairs (`slopes` is lazy — the
    # count action replayed the whole day×day join). The count is
    # exactly C(nd, 2) over the checkpointed 1-per-day relation (x is
    # distinct per row and the pair filter is xa < xb), so derive it
    # from `daily` at day grain instead: same value, one fewer pass.
    nrel = daily.agg(F.count(F.lit(1)).alias("nd")).select(
        ((F.col("nd") * (F.col("nd") - 1)) / 2).cast("long").alias("n")
    )
    ranked = indexing.global_row_number(slopes, ["s"])
    mid = (
        ranked.crossJoin(F.broadcast(nrel))
        .filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    )
    slope = mid.select(
        (F.col("lo") + (F.col("hi") - F.col("lo")) / 2).alias("slope")
    )
    resid = base.crossJoin(F.broadcast(slope)).select(
        (F.col("y").cast("double") - F.col("slope") * F.col("x").cast("double")).alias(
            "r"
        ),
        "slope",
    )
    return resid.groupBy("slope").agg(F.median("r").alias("icpt")).select(
        F.round(F.col("slope") / 100.0, 6).alias("slope_per_day"),
        F.round(F.col("icpt") / 100.0, 2).alias("intercept"),
    )


_AG_THEIL_SEN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders GROUP BY 1
),
base AS (
  SELECT CAST(datediff('day', DATE '1992-01-01', d) AS BIGINT) AS x, y FROM daily
),
slopes AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
  FROM base a JOIN base b ON a.x < b.x
),
sl AS (SELECT MEDIAN(s) AS slope FROM slopes),
resid AS (
  SELECT CAST(y AS DOUBLE) - slope * CAST(x AS DOUBLE) AS r, slope
  FROM base CROSS JOIN sl
)
SELECT ROUND(slope / 100.0, 6) AS slope_per_day,
       ROUND(MEDIAN(r) / 100.0, 2) AS intercept
FROM resid GROUP BY slope
"""


def ag_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` surface
    (``functions/python_api.trimmed_mean_grouped``) — the third Python
    API next to the GROUPED_AGG UDAF and the UDTF: per return flag,
    the 10%-trimmed mean of extended price. Deterministic because the
    trimmed SUM is an exact integer (boundary-equal values are
    interchangeable for a mean) and one division renders the double;
    the oracle computes the identical statistic via window ranks —
    the rendering to use when groups are unbounded."""
    from movie_data_etl_pipeline_spark.functions.python_api import (
        trimmed_mean_grouped,
    )

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", SC.cents("l_extendedprice").alias("v")
    )
    out = trimmed_mean_grouped(li, ["l_returnflag"], "v", trim=0.1)
    return out.select(
        "l_returnflag",
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.round(F.col("trimmed_mean") / F.lit(100.0), 6).alias("trimmed_mean"),
    ).orderBy("l_returnflag")


_AG_TRIMMED_SQL = """
WITH o AS (
  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
),
r AS (
  SELECT l_returnflag, v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM o
),
kept AS (
  SELECT l_returnflag, v FROM r
  WHERE rn > CAST(floor(n * 0.1) AS BIGINT) AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
)
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*) / 100.0, 6) AS trimmed_mean
FROM kept GROUP BY l_returnflag ORDER BY l_returnflag
"""


def dd_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """The LSH system MEASURING ITSELF: empirical banding recall per
    exact-similarity decile — for every true pair (exact shingle-hash
    Jaccard ≥ 0.2), did the 32/8 portable-MinHash banding emit it as a
    candidate? This is the S-curve the banding parameters promise
    ((1−(1−s^r)^b) analytically), observed on real data and
    hash-checked over co-shingle pairs within a DETERMINISTIC DOC
    SAMPLE: high deciles must show recall→1 (no missed duplicates),
    low deciles recall→0 (banding is not flooding the verifier with
    junk candidates) — the two-sided tuning readout before a 100 TB
    run. Decile assignment is an integer cross-multiplication
    (⌊10·shared/union⌋), recall one division.

    The exact ground truth is inherently quadratic in co-shingle
    posting lists, so it is computed on the ``doc_id % 4 == 0`` slice
    (sampling DOCS samples PAIRS; per-decile recall is a ratio, so the
    estimate is unbiased). The modulus is the knob that keeps the
    diagnostic bounded at any corpus size — at production scale pick
    ``k ≈ N / 20_000`` so the ground-truth side stays ~20k docs
    regardless of N. The banded candidate side is restricted to the
    same slice (only sampled pairs are probed). The DuckDB oracle
    applies the identical predicate, keeping the pair in lockstep.
    Shingle sets and the 32x8 banded index are id-filters over the
    family-shared cached builds (both derivations are per-document
    row-local, so the filter commutes)."""
    from movie_data_etl_pipeline_spark.plans.doc_pairs import (
        portable_banded_index,
        portable_shingle_sets,
    )

    sh = portable_shingle_sets(spark, sf).where(F.col("id") % 4 == 0).persist()
    ex = sh.select("id", F.explode("sh").alias("h"))
    shared = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = sh.select("id", "n_sh")
    exact = (
        shared.join(sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("na")), "a_id")
        .join(sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("nb")), "b_id")
        .withColumn("u", F.col("na") + F.col("nb") - F.col("n_shared"))
    )
    banded = portable_banded_index(spark, sf).where(F.col("id") % 4 == 0)
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .distinct()
        .withColumn("caught", F.lit(1))
    )
    return (
        exact.join(cand, ["a_id", "b_id"], "left")
        .select(
            F.least(
                F.lit(9).cast("bigint"),
                F.expr("(n_shared * 10) div u"),
            ).alias("sim_decile"),
            F.coalesce("caught", F.lit(0)).alias("caught"),
        )
        .groupBy("sim_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("caught").cast("bigint").alias("n_caught"),
            F.round(F.sum("caught") / F.count(F.lit(1)), 6).alias("recall"),
        )
        .orderBy("sim_decile")
    )


# same CTE chain as the unsampled twins, restricted to the deterministic
# doc sample the Spark side uses (see dd_lsh_recall's docstring)
_MINHASH_PORT_CTES_SAMPLED = _MINHASH_PORT_CTES.replace(
    "FROM documents", "FROM documents WHERE doc_id % 4 = 0"
)

_DD_LSH_RECALL_SQL = f"""{_MINHASH_PORT_CTES_SAMPLED},
ex AS (SELECT id, unnest(sh) AS h FROM shs),
shared AS (
  SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2
),
exact AS (
  SELECT a_id, b_id, n_shared, len(sa.sh) + len(sb.sh) - n_shared AS u
  FROM shared JOIN shs sa ON sa.id = a_id JOIN shs sb ON sb.id = b_id
),
cand AS (
  SELECT DISTINCT x.id AS a_id, y.id AS b_id
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
)
SELECT LEAST(9, (n_shared * 10) // u) AS sim_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       ROUND(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 6) AS recall
FROM exact e LEFT JOIN cand c ON e.a_id = c.a_id AND e.b_id = c.b_id
GROUP BY 1 ORDER BY 1
"""


# Registration order is the public order of ``queries()``: this dict
# literal first, then each wave module's entries in import order. Its
# first 50 entries are the historical round-3 correctness window and
# all have DuckDB twins (tests/test_registry_contract.py pins that);
# tools/crosscheck.py checks every entry regardless of position. Every
# oracle pair below was pre-verified locally via tools/crosscheck.py at
# sf0.01 AND sf0.001 AND under local[5].
QUERIES: dict[str, QueryFn] = {
    # -- window 0-7: repaired events-timestamp queries (red in r2) --
    "p3_scalar_coercions": p3_scalar_coercions,
    "o6_dedup_last_wins": o6_dedup_last_wins,
    "st_tumbling": st_tumbling,
    "st_sliding": st_sliding,
    "st_sessionize": st_sessionize,
    "st_interval_join": st_interval_join,
    "w4_trailing_7d": w4_trailing_7d,
    "aj_asof_join": aj_asof_join,
    # -- window 8-49: first-ever correctness rows --
    "q1_pricing_summary": q1_pricing_summary,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q9_nation_profit": q9_nation_profit,
    "q10_returned_items": q10_returned_items,
    "q11_value_concentration": q11_value_concentration,
    "q12_priority_shipping": q12_priority_shipping,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_diversity": q16_supplier_diversity,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q20_concentrated_suppliers": q20_concentrated_suppliers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_idle_customers": q22_idle_customers,
    "j5_left_join_agg": j5_left_join_agg,
    "w1_running_total": w1_running_total,
    "g1_rollup": g1_rollup,
    "g3_grouping_sets": g3_grouping_sets,
    "pv_pivot_status": pv_pivot_status,
    "su_set_ops": su_set_ops,
    "ts_gapfill": ts_gapfill,
    "ev_funnel": ev_funnel,
    "ag_histogram": ag_histogram,
    "o10_scd2_history": o10_scd2_history,
    "o11_snapshot_diff": o11_snapshot_diff,
    "dd_dup_clusters": dd_dup_clusters,
    "dd_contamination": dd_contamination,
    "tx_span_dedup": tx_span_dedup,
    "jx_fuzzy_join": jx_fuzzy_join,
    "fn_hof_surface": fn_hof_surface,
    "mm_asset_stats": mm_asset_stats,
    "mm_frame_sample": mm_frame_sample,
    "hh_heavy_hitters": hh_heavy_hitters,
    "ly_zorder": ly_zorder,
    "tx_pii_scrub": tx_pii_scrub,
    "tx_pack_sequences": tx_pack_sequences,
    "qa_audit": qa_audit,
    # -- 50-65: overflow of the round-3 window --
    "j6_anti_join": j6_anti_join,
    "j7_semi_join": j7_semi_join,
    "w2_lag_delta": w2_lag_delta,
    "w3_ntile_quartiles": w3_ntile_quartiles,
    "w5_value_windows": w5_value_windows,
    "g2_cube": g2_cube,
    "ev_cohort_retention": ev_cohort_retention,
    "ev_transitions": ev_transitions,
    "tx_rare_tokens": tx_rare_tokens,
    "sim_label_centroids": sim_label_centroids,
    "inc_rollup": inc_rollup,
    "tx_tfidf_topk": tx_tfidf_topk,
    "f3_variant_json": f3_variant_json,
    "mm_features": mm_features,
    "tx_chunking": tx_chunking,
    "src_paged_api": src_paged_api,
    # -- 66+: hash-green in both r1 and r2 --
    "v1_top_actors": v1_top_actors,
    "v2_top_genres": v2_top_genres,
    "v3_genre_ratings": v3_genre_ratings,
    "v4_top_actors_by_rating": v4_top_actors_by_rating,
    "t5_top20": t5_top20,
    "f1_explode": f1_explode,
    "f2_json_flatten": f2_json_flatten,
    "o7_top_n_per_group": o7_top_n_per_group,
    "a6_duplicate_report": a6_duplicate_report,
    "o8_upsert": o8_upsert,
    "o8_upsert_preserve": o8_upsert_preserve,
    "o9_insert_if_absent": o9_insert_if_absent,
    "tx_token_stats": tx_token_stats,
    "tx_token_frequency": tx_token_frequency,
    "tx_lang_distribution": tx_lang_distribution,
    "tx_quality_scores": tx_quality_scores,
    "tx_language_id": tx_language_id,
    "tx_fingerprints": tx_fingerprints,
    "dd_exact_dup_groups": dd_exact_dup_groups,
    "tx_token_counts": tx_token_counts,
    "pv_unpivot_lineitem": pv_unpivot_lineitem,
    "q6_revenue_delta": q6_revenue_delta,
    "sq_min_price_supplier": sq_min_price_supplier,
    "fn_scalar_surface": fn_scalar_surface,
    "px_clean_corpus": px_clean_corpus,
    "q14_promo_revenue": q14_promo_revenue,
    "j8_full_outer_nation": j8_full_outer_nation,
    "tx_repetition": tx_repetition,
    "ag_stats_moments": ag_stats_moments,
    "dd_incremental": dd_incremental,
    "sa_stratified_sample": sa_stratified_sample,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_minhash_lsh": dd_minhash_lsh,
    "dd_simhash": dd_simhash,
    "sim_knn_bruteforce": sim_knn_bruteforce,
    "sim_knn_lsh": sim_knn_lsh,
    "sim_knn_ivf": sim_knn_ivf,
    "sim_embedding_near_dup": sim_embedding_near_dup,
    "rj_range_join": rj_range_join,
    "ap_exact_quantiles": ap_exact_quantiles,
    "ap_approx_stats": ap_approx_stats,
    # appended after the round-3 window
    "sa_mixture_sample": sa_mixture_sample,
    "sa_hash_split": sa_hash_split,
    "dd_bloom_incremental": dd_bloom_incremental,
    "st_interval_join_left": st_interval_join_left,
    "tx_datacard": tx_datacard,
    "ev_top_paths": ev_top_paths,
    "tx_adaptive_quality": tx_adaptive_quality,
    "emb_int8_quantize": emb_int8_quantize,
    "dd_minhash_incremental": dd_minhash_incremental,
    "qa_volume_anomaly": qa_volume_anomaly,
    "px_training_mix": px_training_mix,
    "ts_ewma": ts_ewma,
    "fn_try_surface": fn_try_surface,
    "tx_vocab_coverage": tx_vocab_coverage,
    "qa_key_skew": qa_key_skew,
    "ag_median_mode": ag_median_mode,
    "emb_prefix_norm": emb_prefix_norm,
    "px_source_budget": px_source_budget,
    "px_shard_manifest": px_shard_manifest,
    "qa_json_dlq": qa_json_dlq,
    "st_dedup": st_dedup,
    "ix_global_rownum": ix_global_rownum,
    "ev_type_pmi": ev_type_pmi,
    "tx_unigram_logprob": tx_unigram_logprob,
    "ap_hll_rollup": ap_hll_rollup,
    "sim_hard_negatives": sim_hard_negatives,
    "ag_weighted_median": ag_weighted_median,
    "dd_minhash_portable": dd_minhash_portable,
    "dd_simhash_portable": dd_simhash_portable,
    "sim_knn_portable": sim_knn_portable,
    "gr_pagerank": gr_pagerank,
    "dd_minhash_incr_portable": dd_minhash_incr_portable,
    "tx_source_divergence": tx_source_divergence,
    "pit_topk_events": pit_topk_events,
    "ap_quantile_rollup": ap_quantile_rollup,
    "emb_random_projection": emb_random_projection,
    "fp_token_pairs": fp_token_pairs,
    "gr_label_prop": gr_label_prop,
    "o12_apply_changes": o12_apply_changes,
    "qa_mad_outliers": qa_mad_outliers,
    "tx_bigram_surprisal": tx_bigram_surprisal,
    "st_enrich": st_enrich,
    "sa_temporal_split": sa_temporal_split,
    "qa_k_anonymity": qa_k_anonymity,
    "ix_inverted_index": ix_inverted_index,
    "jx_salted_join": jx_salted_join,
    "ly_compaction": ly_compaction,
    "ag_ols_brand": ag_ols_brand,
    "sim_tfidf_cosine": sim_tfidf_cosine,
    "ev_attribution": ev_attribution,
    "ap_cms_counts": ap_cms_counts,
    "qa_replica_diff": qa_replica_diff,
    "tx_score_calibration": tx_score_calibration,
    "qa_join_explosion": qa_join_explosion,
    "ap_kmv_sources": ap_kmv_sources,
    "ap_kmv_jaccard": ap_kmv_jaccard,
    "inc_join_view": inc_join_view,
    "sa_weighted_sample": sa_weighted_sample,
    "gr_triangles": gr_triangles,
    "ag_ab_test": ag_ab_test,
    "qa_release_gate": qa_release_gate,
    "tx_skipgram_pmi": tx_skipgram_pmi,
    "tx_bpe_merges": tx_bpe_merges,
    "ev_debounce": ev_debounce,
    "qa_fk_repair": qa_fk_repair,
    "ag_mutual_info": ag_mutual_info,
    "w6_sliding_distinct": w6_sliding_distinct,
    "qa_seasonal_anomaly": qa_seasonal_anomaly,
    "qa_entropy_profile": qa_entropy_profile,
    "dd_canonical_pick": dd_canonical_pick,
    "qa_winsorize": qa_winsorize,
    "ts_rolling_corr": ts_rolling_corr,
    "ag_abc_analysis": ag_abc_analysis,
    "tx_threshold_sweep": tx_threshold_sweep,
    "tx_sentence_stats": tx_sentence_stats,
    "o13_scd2_lookup": o13_scd2_lookup,
    "qa_benford": qa_benford,
    "sa_systematic": sa_systematic,
    "qa_balance_check": qa_balance_check,
    "ev_survival_km": ev_survival_km,
    "dd_survivorship": dd_survivorship,
    "ag_theil_sen": ag_theil_sen,
    "ag_trimmed_mean": ag_trimmed_mean,
    "dd_lsh_recall": dd_lsh_recall,
}

ORACLES: dict[str, str] = {
    "v1_top_actors": _V1_SQL,
    "v2_top_genres": _V2_SQL,
    "v3_genre_ratings": _V3_SQL,
    "v4_top_actors_by_rating": _V4_SQL,
    "t5_top20": _T5_SQL,
    "f1_explode": _F1_SQL,
    "f2_json_flatten": _F2_SQL,
    "p3_scalar_coercions": _P3_SQL,
    "o6_dedup_last_wins": _O6_SQL,
    "o7_top_n_per_group": _O7_SQL,
    "a6_duplicate_report": _A6_SQL,
    "o8_upsert": _O8_SQL,
    "o8_upsert_preserve": _O8P_SQL,
    "o9_insert_if_absent": _O9_SQL,
    "tx_token_stats": _TX_STATS_SQL,
    "tx_token_frequency": _TX_FREQ_SQL,
    "tx_lang_distribution": _TX_LANG_SQL,
    "tx_quality_scores": _TX_QUALITY_SQL,
    "tx_language_id": _TX_LANGID_SQL,
    "tx_fingerprints": _TX_FP_SQL,
    "dd_exact_dup_groups": _DD_EXACT_SQL,
    "tx_token_counts": _TX_COUNTS_SQL,
    "st_interval_join": _ST_IJ_SQL,
    "pv_unpivot_lineitem": _PV_UNPIVOT_SQL,
    "q6_revenue_delta": _Q6_SQL,
    "sq_min_price_supplier": _SQ_MIN_SQL,
    "fn_scalar_surface": _FN_SCALAR_SQL,
    "px_clean_corpus": _PX_CLEAN_SQL,
    "q14_promo_revenue": _Q14_SQL,
    "w4_trailing_7d": _W4_SQL,
    "j8_full_outer_nation": _J8_SQL,
    "tx_repetition": _TX_REP_SQL,
    "ag_stats_moments": _AG_STATS_SQL,
    "dd_incremental": _DD_INCR_SQL,
    "sa_stratified_sample": _SA_STRAT_SQL,
    "q5_local_supplier_volume": _Q5_SQL,
    "dd_ngram_jaccard": _DD_JACCARD_SQL,
    "sim_knn_bruteforce": _SIM_KNN_SQL,
    "aj_asof_join": _AJ_SQL,
    "rj_range_join": _RJ_SQL,
    "st_tumbling": _ST_TUMBLING_SQL,
    "st_sliding": _ST_SLIDING_SQL,
    "st_sessionize": _ST_SESSION_SQL,
    "ap_exact_quantiles": _AP_QUANT_SQL,
    "mm_asset_stats": _MM_STATS_SQL,
    "mm_frame_sample": _MM_FRAMES_SQL,
    "j5_left_join_agg": _J5_SQL,
    "j6_anti_join": _J6_SQL,
    "j7_semi_join": _J7_SQL,
    "w1_running_total": _W1_SQL,
    "w2_lag_delta": _W2_SQL,
    "w3_ntile_quartiles": _W3_SQL,
    "q3_shipping_priority": _Q3_SQL,
    "g1_rollup": _G1_SQL,
    "g2_cube": _G2_SQL,
    "pv_pivot_status": _PV_SQL,
    "su_set_ops": _SU_SQL,
    "q1_pricing_summary": _Q1_SQL,
    "q4_order_priority": _Q4_SQL,
    "q9_nation_profit": _Q9_SQL,
    "q10_returned_items": _Q10_SQL,
    "q13_customer_distribution": _Q13_SQL,
    "q17_small_quantity_revenue": _Q17_SQL,
    "q18_large_orders": _Q18_SQL,
    "q22_idle_customers": _Q22_SQL,
    "w5_value_windows": _W5_SQL,
    "ts_gapfill": _TS_GAPFILL_SQL,
    "ev_funnel": _EV_FUNNEL_SQL,
    "ev_cohort_retention": _EV_COHORT_SQL,
    "ag_histogram": _AG_HIST_SQL,
    "o10_scd2_history": _O10_SCD2_SQL,
    "q21_waiting_suppliers": _Q21_SQL,
    "tx_rare_tokens": _TX_RARE_SQL,
    "sim_label_centroids": _SIM_CENTROID_SQL,
    "inc_rollup": _INC_ROLLUP_SQL,
    "g3_grouping_sets": _G3_SQL,
    "dd_dup_clusters": _DD_CLUSTERS_SQL,
    "q7_nation_volume": _Q7_SQL,
    "q8_market_share": _Q8_SQL,
    "q11_value_concentration": _Q11_SQL,
    "q12_priority_shipping": _Q12_SQL,
    "q15_top_supplier": _Q15_SQL,
    "q16_supplier_diversity": _Q16_SQL,
    "q19_disjunctive_revenue": _Q19_SQL,
    "q20_concentrated_suppliers": _Q20_SQL,
    "tx_tfidf_topk": _TX_TFIDF_SQL,
    "ev_transitions": _EV_TRANS_SQL,
    "f3_variant_json": _F3_VARIANT_SQL,
    "q2_min_cost_supplier": _Q2_SQL,
    "dd_contamination": _DD_CONTAM_SQL,
    "o11_snapshot_diff": _O11_DIFF_SQL,
    "jx_fuzzy_join": _JX_FUZZY_SQL,
    "hh_heavy_hitters": _HH_SQL,
    "fn_hof_surface": _FN_HOF_SQL,
    "ly_zorder": _LY_ZORDER_SQL,
    "tx_pii_scrub": _TX_PII_SQL,
    "tx_span_dedup": _TX_SPAN_SQL,
    "tx_pack_sequences": _TX_PACK_SQL,
    "qa_audit": _QA_AUDIT_SQL,
    "tx_chunking": _TX_CHUNK_SQL,
    "mm_features": _MM_FEATURES_SQL,
    "sa_mixture_sample": _SA_MIXTURE_SQL,
    "sa_hash_split": _SA_SPLIT_SQL,
    "dd_bloom_incremental": _DD_BLOOM_SQL,
    "st_interval_join_left": _ST_IJL_SQL,
    "tx_datacard": _TX_DATACARD_SQL,
    "ev_top_paths": _EV_PATHS_SQL,
    "tx_adaptive_quality": _TX_ADAPTIVE_SQL,
    "emb_int8_quantize": _EMB_INT8_SQL,
    "qa_volume_anomaly": _QA_ANOMALY_SQL,
    "px_training_mix": _PX_MIX_SQL,
    "ts_ewma": _TS_EWMA_SQL,
    "fn_try_surface": _FN_TRY_SQL,
    "tx_vocab_coverage": _TX_VOCAB_SQL,
    "qa_key_skew": _QA_SKEW_SQL,
    "ag_median_mode": _AG_MEDIAN_SQL,
    "emb_prefix_norm": _EMB_PREFIX_SQL,
    "px_source_budget": _PX_BUDGET_SQL,
    "px_shard_manifest": _PX_SHARD_SQL,
    "qa_json_dlq": _QA_DLQ_SQL,
    "st_dedup": _ST_DEDUP_SQL,
    "ix_global_rownum": _IX_ROWNUM_SQL,
    "ev_type_pmi": _EV_PMI_SQL,
    "tx_unigram_logprob": _TX_UNIGRAM_SQL,
    "ap_hll_rollup": _AP_HLL_SQL,
    "sim_hard_negatives": _SIM_HARDNEG_SQL,
    "ag_weighted_median": _AG_WMEDIAN_SQL,
    "dd_minhash_portable": _DD_MINHASH_PORT_SQL,
    "dd_simhash_portable": _DD_SIMHASH_PORT_SQL,
    "sim_knn_portable": _SIM_KNN_PORT_SQL,
    "gr_pagerank": _GR_PAGERANK_SQL,
    "dd_minhash_incr_portable": _DD_MINHASH_INCR_PORT_SQL,
    "tx_source_divergence": _TX_SRCDIV_SQL,
    "pit_topk_events": _PIT_TOPK_SQL,
    "ap_quantile_rollup": _AP_QROLLUP_SQL,
    "emb_random_projection": _EMB_RP_SQL,
    "fp_token_pairs": _FP_PAIRS_SQL,
    "gr_label_prop": _GR_LABELPROP_SQL,
    "o12_apply_changes": _O12_CDC_SQL,
    "qa_mad_outliers": _QA_MAD_SQL,
    "tx_bigram_surprisal": _TX_BIGRAM_SQL,
    "st_enrich": _ST_ENRICH_SQL,
    "sa_temporal_split": _SA_TEMPORAL_SQL,
    "qa_k_anonymity": _QA_KANON_SQL,
    "ix_inverted_index": _IX_INVIDX_SQL,
    "jx_salted_join": _JX_SALTED_SQL,
    "ly_compaction": _LY_COMPACTION_SQL,
    "ag_ols_brand": _AG_OLS_SQL,
    "sim_tfidf_cosine": _SIM_TFIDF_SQL,
    "ev_attribution": _EV_ATTRIBUTION_SQL,
    "ap_cms_counts": _AP_CMS_SQL,
    "qa_replica_diff": _QA_REPLICA_SQL,
    "tx_score_calibration": _TX_CALIBRATION_SQL,
    "qa_join_explosion": _QA_EXPLOSION_SQL,
    "ap_kmv_sources": _AP_KMV_SQL,
    "ap_kmv_jaccard": _AP_KMV_JACCARD_SQL,
    "inc_join_view": _JX_SALTED_SQL,
    "sa_weighted_sample": _SA_WEIGHTED_SQL,
    "gr_triangles": _GR_TRIANGLES_SQL,
    "ag_ab_test": _AG_AB_SQL,
    "qa_release_gate": _QA_RELEASE_SQL,
    "tx_skipgram_pmi": _TX_SKIPGRAM_SQL,
    "tx_bpe_merges": _TX_BPE_SQL,
    "ev_debounce": _EV_DEBOUNCE_SQL,
    "qa_fk_repair": _QA_FK_REPAIR_SQL,
    "ag_mutual_info": _AG_MI_SQL,
    "w6_sliding_distinct": _W6_SLIDING_SQL,
    "qa_seasonal_anomaly": _QA_SEASONAL_SQL,
    "qa_entropy_profile": _QA_ENTROPY_SQL,
    "dd_canonical_pick": _DD_CANONICAL_SQL,
    "qa_winsorize": _QA_WINSORIZE_SQL,
    "ts_rolling_corr": _TS_ROLLCORR_SQL,
    "ag_abc_analysis": _AG_ABC_SQL,
    "tx_threshold_sweep": _TX_SWEEP_SQL,
    "tx_sentence_stats": _TX_SENTENCES_SQL,
    "o13_scd2_lookup": _O13_SCD2_LOOKUP_SQL,
    "qa_benford": _QA_BENFORD_SQL,
    "sa_systematic": _SA_SYSTEMATIC_SQL,
    "qa_balance_check": _QA_BALANCE_SQL,
    "ev_survival_km": _EV_SURVIVAL_SQL,
    "dd_survivorship": _DD_SURVIVORSHIP_SQL,
    "ag_theil_sen": _AG_THEIL_SEN_SQL,
    "ag_trimmed_mean": _AG_TRIMMED_SQL,
    "dd_lsh_recall": _DD_LSH_RECALL_SQL,
    # rows-only (hash-/approximation-dependent): dd_minhash_lsh,
    # dd_simhash, dd_minhash_incremental, sim_knn_lsh, sim_knn_ivf,
    # sim_embedding_near_dup; (no parquet twin): src_paged_api
}

# Round-3 wave 4 (drift/time-series/segmentation/graph monitoring
# layer) lives in its own module to keep this file navigable.
from movie_data_etl_pipeline_spark.plans import wave4 as _wave4  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave5 as _wave5  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave6 as _wave6  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave7 as _wave7  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave8 as _wave8  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave9 as _wave9  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave10 as _wave10  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave11 as _wave11  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave12 as _wave12  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave13 as _wave13  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave14 as _wave14  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave15 as _wave15  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave16 as _wave16  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave17 as _wave17  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave18 as _wave18  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave19 as _wave19  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave20 as _wave20  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave21 as _wave21  # noqa: E402
from movie_data_etl_pipeline_spark.plans import wave22 as _wave22  # noqa: E402

QUERIES.update(_wave4.QUERIES)
ORACLES.update(_wave4.ORACLES)
QUERIES.update(_wave5.QUERIES)
ORACLES.update(_wave5.ORACLES)
QUERIES.update(_wave6.QUERIES)
ORACLES.update(_wave6.ORACLES)
QUERIES.update(_wave7.QUERIES)
ORACLES.update(_wave7.ORACLES)
QUERIES.update(_wave8.QUERIES)
ORACLES.update(_wave8.ORACLES)
QUERIES.update(_wave9.QUERIES)
ORACLES.update(_wave9.ORACLES)
QUERIES.update(_wave10.QUERIES)
ORACLES.update(_wave10.ORACLES)
QUERIES.update(_wave11.QUERIES)
ORACLES.update(_wave11.ORACLES)
QUERIES.update(_wave12.QUERIES)
ORACLES.update(_wave12.ORACLES)
QUERIES.update(_wave13.QUERIES)
ORACLES.update(_wave13.ORACLES)
QUERIES.update(_wave14.QUERIES)
ORACLES.update(_wave14.ORACLES)
QUERIES.update(_wave15.QUERIES)
ORACLES.update(_wave15.ORACLES)
QUERIES.update(_wave16.QUERIES)
ORACLES.update(_wave16.ORACLES)
QUERIES.update(_wave17.QUERIES)
ORACLES.update(_wave17.ORACLES)
QUERIES.update(_wave18.QUERIES)
ORACLES.update(_wave18.ORACLES)
QUERIES.update(_wave19.QUERIES)
ORACLES.update(_wave19.ORACLES)
QUERIES.update(_wave20.QUERIES)
ORACLES.update(_wave20.ORACLES)
QUERIES.update(_wave21.QUERIES)
ORACLES.update(_wave21.ORACLES)
QUERIES.update(_wave22.QUERIES)
ORACLES.update(_wave22.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave23 as _wave23  # noqa: E402

QUERIES.update(_wave23.QUERIES)
ORACLES.update(_wave23.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave24 as _wave24  # noqa: E402

QUERIES.update(_wave24.QUERIES)
ORACLES.update(_wave24.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave25 as _wave25  # noqa: E402

QUERIES.update(_wave25.QUERIES)
ORACLES.update(_wave25.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave26 as _wave26  # noqa: E402

QUERIES.update(_wave26.QUERIES)
ORACLES.update(_wave26.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave27 as _wave27  # noqa: E402

QUERIES.update(_wave27.QUERIES)
ORACLES.update(_wave27.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave28 as _wave28  # noqa: E402

QUERIES.update(_wave28.QUERIES)
ORACLES.update(_wave28.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave29 as _wave29  # noqa: E402

QUERIES.update(_wave29.QUERIES)
ORACLES.update(_wave29.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave30 as _wave30  # noqa: E402

QUERIES.update(_wave30.QUERIES)
ORACLES.update(_wave30.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave31 as _wave31  # noqa: E402

QUERIES.update(_wave31.QUERIES)
ORACLES.update(_wave31.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave32 as _wave32  # noqa: E402

QUERIES.update(_wave32.QUERIES)
ORACLES.update(_wave32.ORACLES)
from movie_data_etl_pipeline_spark.plans import wave33 as _wave33  # noqa: E402

QUERIES.update(_wave33.QUERIES)
ORACLES.update(_wave33.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave34 as _wave34  # noqa: E402

QUERIES.update(_wave34.QUERIES)
ORACLES.update(_wave34.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave35 as _wave35  # noqa: E402

QUERIES.update(_wave35.QUERIES)
ORACLES.update(_wave35.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave36 as _wave36  # noqa: E402

QUERIES.update(_wave36.QUERIES)
ORACLES.update(_wave36.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave37 as _wave37  # noqa: E402

QUERIES.update(_wave37.QUERIES)
ORACLES.update(_wave37.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave38 as _wave38  # noqa: E402

QUERIES.update(_wave38.QUERIES)
ORACLES.update(_wave38.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave39 as _wave39  # noqa: E402

QUERIES.update(_wave39.QUERIES)
ORACLES.update(_wave39.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave40 as _wave40  # noqa: E402

QUERIES.update(_wave40.QUERIES)
ORACLES.update(_wave40.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave41 as _wave41  # noqa: E402

QUERIES.update(_wave41.QUERIES)
ORACLES.update(_wave41.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave42 as _wave42  # noqa: E402

QUERIES.update(_wave42.QUERIES)
ORACLES.update(_wave42.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave43 as _wave43  # noqa: E402

QUERIES.update(_wave43.QUERIES)
ORACLES.update(_wave43.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave44 as _wave44  # noqa: E402

QUERIES.update(_wave44.QUERIES)
ORACLES.update(_wave44.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave45 as _wave45  # noqa: E402

QUERIES.update(_wave45.QUERIES)
ORACLES.update(_wave45.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave46 as _wave46  # noqa: E402

QUERIES.update(_wave46.QUERIES)
ORACLES.update(_wave46.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave47 as _wave47  # noqa: E402

QUERIES.update(_wave47.QUERIES)
ORACLES.update(_wave47.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave48 as _wave48  # noqa: E402

QUERIES.update(_wave48.QUERIES)
ORACLES.update(_wave48.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave49 as _wave49  # noqa: E402

QUERIES.update(_wave49.QUERIES)
ORACLES.update(_wave49.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave50 as _wave50  # noqa: E402

QUERIES.update(_wave50.QUERIES)
ORACLES.update(_wave50.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave51 as _wave51  # noqa: E402

QUERIES.update(_wave51.QUERIES)
ORACLES.update(_wave51.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave52 as _wave52  # noqa: E402

QUERIES.update(_wave52.QUERIES)
ORACLES.update(_wave52.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave53 as _wave53  # noqa: E402

QUERIES.update(_wave53.QUERIES)
ORACLES.update(_wave53.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave54 as _wave54  # noqa: E402

QUERIES.update(_wave54.QUERIES)
ORACLES.update(_wave54.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave55 as _wave55  # noqa: E402

QUERIES.update(_wave55.QUERIES)
ORACLES.update(_wave55.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave56 as _wave56  # noqa: E402

QUERIES.update(_wave56.QUERIES)
ORACLES.update(_wave56.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave57 as _wave57  # noqa: E402

QUERIES.update(_wave57.QUERIES)
ORACLES.update(_wave57.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave58 as _wave58  # noqa: E402

QUERIES.update(_wave58.QUERIES)
ORACLES.update(_wave58.ORACLES)

from movie_data_etl_pipeline_spark.plans import wave59 as _wave59  # noqa: E402

QUERIES.update(_wave59.QUERIES)
ORACLES.update(_wave59.ORACLES)
