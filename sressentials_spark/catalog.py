"""Query catalog: named engine queries + their DuckDB oracle SQL.

This is the single registry behind ``__spark_entry__.py``'s driver
contract (``queries()`` / ``oracle_sql()``). Every implemented operator
from SURVEY.md §2 (and the extension tier) appears here as a named
query: a callable ``(spark, sf_dir) -> DataFrame`` plus — wherever the
semantics are SQL-expressible — an equivalent DuckDB SQL string over
the same testdata tables.

The log-pipeline queries run the *real* engine end-to-end: a log file
is deterministically rendered from the ``events`` table
(:mod:`sressentials_spark.loggen`), the Spark pipelines parse it back,
and the oracle restates the expected output relationally using the very
same SQL fragments that generated the log — so scan, JSON/regex parse,
routing, normalization and aggregation are all on the hook, not just
the final agg.

Column names/aliases match between Spark and SQL on purpose: the
driver's comparator sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sressentials_spark import loggen
from sressentials_spark.artifacts import (
    get_or_build,
    release_persisted,
    track,
    tracked_persist,
)
from sressentials_spark.operators import curation as C
from sressentials_spark.operators import dedup as D
from sressentials_spark.operators import pipeline as P
from sressentials_spark.operators import ivf_versioned as IV
from sressentials_spark.operators.maintenance import manifest_versions
from sressentials_spark.operators import similarity as S
from sressentials_spark.operators.linalg import _plane_matrix
from sressentials_spark.operators import rangejoin as _RJ
from sressentials_spark.operators import rownum as _RN
from sressentials_spark.operators import sketch as K
from sressentials_spark.operators.profile import (
    key_skew_profile_oracle_sql,
    profile_columns_oracle_sql,
)
from sressentials_spark.operators.text import (
    bpe_merge_pair_counts_oracle_sql,
    clean_normalize_oracle_sql,
    exact_dedup_groups,
    quality_scores,
    rare_bigram_stats_oracle_sql,
    token_stats,
)
from sressentials_spark.plans.mongo import analyze_mongo_log
from sressentials_spark.plans.mysql import analyze_mysql_log
from sressentials_spark.sources.tables import history_split, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}

#: Named builders for the persisted serving artifacts some queries are
#: served from (ANN inverted lists, the bucketed dedup index). Each
#: callable takes ``(spark, sf_dir)``, builds the artifact if this
#: session hasn't yet (a disk-tier ``artifacts.get_or_build``), and
#: returns its handle. bench.py invokes these OUTSIDE the timed region
#: and reports each build as its own line, so per-query timings are
#: steady-state serve costs — at scale the build is a scheduled
#: warehouse job amortized across every query batch, not a per-query
#: cost.
INDEX_BUILDERS: dict[str, Callable[[SparkSession, str], object]] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Log pipelines (reference surface, SURVEY §2: M1-M14, S1-S9, N1-N6)
# --------------------------------------------------------------------------

def _shared_query(spark: SparkSession, sf_dir: str, name: str, build):
    """Session-share a query materialization that several registered
    queries consume (every recall eval re-serves its exact/ANN
    components; ``sim_cosine_topk`` alone is re-served by the 11
    recall@10 evals, through ``_recall_at_k``).

    A memory artifact like the parsed log sheets and the minhash
    tables: computed INSIDE the timed region on first use per
    (session, sf_dir), dropped by ``release_persisted`` — bench clears
    it between passes and driver_sim builds a fresh session, so every
    run still computes from the parquet inputs; only intra-pass
    recomputation of the identical frame is removed.

    Two disclosed consequences (r12 ADVICE/VERDICT): per-query bench
    timings of consumers are ORDER-DEPENDENT within a pass (the first
    consumer pays materialization; bench.py labels later consumers in
    its ``amortized`` output map), and the cache key is
    (session, name, sf_dir) — inputs rewritten under ``sf_dir``
    MID-SESSION would serve a stale frame (no engine query path does
    this; rebuilds go through new scratch dirs + manifests)."""
    return get_or_build(
        spark, ("qshare", name, sf_dir), lambda: tracked_persist(build())
    )


def _consume_shared(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Consumer-side session-sharing of another registered query's
    frame: persist ``QUERIES[name]``'s plan once per (session, sf_dir)
    at the FIRST consumer call, through :func:`_shared_query`.

    The difference from wrapping the producer (r12's approach, reverted
    per its VERDICT item 1): the producer query itself stays an
    unpersisted plan, so its bench time is pure compute — the persist
    materialization is charged to the first consumer, which is the
    query actually buying the reuse. Spark's CacheManager additionally
    substitutes the cached relation into any later semantically-equal
    plan (e.g. ``dedup_components`` builds the same pair plan
    internally), so all downstream consumers benefit without referring
    to this helper."""
    return _shared_query(
        spark, sf_dir, name, lambda: QUERIES[name](spark, sf_dir)
    )


def _sheets(
    spark: SparkSession,
    tool: str,
    path: str,
    analyze: Callable[[SparkSession, str], dict[str, DataFrame]],
) -> dict[str, DataFrame]:
    """One parse per (session, log), shared by the 5 mongo / 3 mysql
    catalog queries: a memory artifact whose persisted root
    (``SheetDict.base``) is tracked, so the release frees it."""

    def build():
        sheets = analyze(spark, path)
        track(sheets.base)
        return sheets

    return get_or_build(spark, ("sheets", tool, path), build)


#: Kept for callers that clear the parse cache by this name; the one
#: release frees parsed sheets along with every other memory artifact.
clear_sheets_cache = release_persisted


def _mongo_sheet(spark: SparkSession, sf_dir: str, sheet: str) -> DataFrame:
    path = loggen.ensure_mongo_log(sf_dir)
    return _sheets(spark, "mongo", path, analyze_mongo_log)[sheet]


def _mysql_sheet(spark: SparkSession, sf_dir: str, sheet: str) -> DataFrame:
    path = loggen.ensure_mysql_log(sf_dir)
    return _sheets(spark, "mysql", path, analyze_mysql_log)[sheet]


_MONGO_SLOW_FILTER = "NOT malformed AND event_type IN ('click', 'view', 'purchase')"


@register(
    "mongo_slow_detailed",
    f"""
WITH ev AS ({loggen.MONGO_EV})
SELECT ({loggen.MONGO_CMD})      AS "Command",
       {loggen.MONGO_COLLECTION} AS "Collection",
       appname                   AS "AppName",
       dur                       AS "Duration(ms)",
       keys_ex                   AS "KeysExamined",
       docs_ex                   AS "DocsExamined",
       yields                    AS "numYields",
       nret                      AS "nreturned",
       {loggen.MONGO_FILTER}     AS "Filter",
       plan                      AS "Plan",
       tss                       AS "timestamp"
FROM ev WHERE {_MONGO_SLOW_FILTER}
""",
)
def mongo_slow_detailed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M9, M13: slow-query detailed metrics sheet."""
    return _mongo_sheet(spark, sf_dir, "detailed")


@register(
    "mongo_query_stats",
    f"""
WITH ev AS ({loggen.MONGO_EV}),
s AS (SELECT * FROM ev WHERE {_MONGO_SLOW_FILTER})
SELECT ({loggen.MONGO_PATTERN})         AS "Query Pattern",
       COUNT(*)                         AS "Executions",
       MIN(dur)                         AS "Min Duration(ms)",
       MAX(dur)                         AS "Max Duration(ms)",
       ROUND(AVG(dur), 2)               AS "Avg Duration(ms)",
       MIN_BY(({loggen.MONGO_CMD}), event_id) AS "Sample Full Query"
FROM s GROUP BY 1
""",
)
def mongo_query_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10/M12 + N1: per-pattern aggregation with file-order samples."""
    return _mongo_sheet(spark, sf_dir, "query_stats")


@register(
    "mongo_error_rollup",
    f"""
WITH ev AS ({loggen.MONGO_EV}),
e AS (SELECT * FROM ev WHERE NOT malformed AND event_type = 'error')
SELECT MIN(line_no)                  AS "OriginalLineNumber",
       'Connection error'            AS "msg",
       'E' || errcode                AS "error",
       'network error ' || errcode   AS "errmsg",
       COUNT(*)                      AS "totalCount",
       MIN_BY(({loggen.MONGO_ERR_LINE}), event_id) AS "SampleLine"
FROM e GROUP BY errcode
""",
)
def mongo_error_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4/M11: error rollup by (msg, codeName, errmsg)."""
    return _mongo_sheet(spark, sf_dir, "errors")


@register(
    "mongo_non_slow",
    f"""
WITH ev AS ({loggen.MONGO_EV})
SELECT ({loggen.MONGO_NOISE_LINE}) AS "LogLine"
FROM ev WHERE NOT malformed AND event_type = 'signup'
""",
)
def mongo_non_slow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: passthrough of valid lines matching neither route."""
    return _mongo_sheet(spark, sf_dir, "non_slow")


@register(
    "mongo_parse_errors",
    f"""
WITH ev AS ({loggen.MONGO_EV})
SELECT 'Line ' || line_no || ': Invalid JSON. Skipped.' AS "message"
FROM ev WHERE malformed
""",
)
def mongo_parse_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14: parse-error diagnostics channel."""
    return _mongo_sheet(spark, sf_dir, "parse_errors")


@register(
    "mysql_detailed",
    f"""
WITH ev AS ({loggen.MYSQL_EV})
SELECT tstr                  AS "Time",
       uh                    AS "User@Host",
       qt_ms                 AS "Query_time (ms)",
       lock_str              AS "Lock_time",
       rows_sent             AS "Rows_sent",
       rows_ex               AS "Rows_examined",
       ({loggen.MYSQL_QUERY}) AS "Query",
       ({loggen.MYSQL_NQ})    AS "Normalized_Query"
FROM ev WHERE event_type <> 'error'
""",
)
def mysql_detailed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S5, N2/N3: per-entry extracted metrics sheet."""
    return _mysql_sheet(spark, sf_dir, "detailed")


@register(
    "mysql_aggregate",
    f"""
WITH ev AS ({loggen.MYSQL_EV}),
ok AS (SELECT * FROM ev WHERE event_type <> 'error')
SELECT ({loggen.MYSQL_NQ})       AS "Normalized_Query",
       COUNT(*)                  AS "Executions",
       MIN(qt_ms)                AS "Min_Query_time_ms",
       MAX(qt_ms)                AS "Max_Query_time_ms",
       ROUND(AVG(qt_ms), 2)      AS "Avg_Query_time_ms",
       MIN_BY(({loggen.MYSQL_QUERY}), event_id) AS "Sample_Query"
FROM ok GROUP BY 1
""",
)
def mysql_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7: per-normalized-query aggregation."""
    return _mysql_sheet(spark, sf_dir, "aggregate")


@register(
    "mysql_skip_warnings",
    f"""
WITH ev AS ({loggen.MYSQL_EV})
SELECT entry_no AS "entry_no",
       'Skipped log entry ' || entry_no || ' due to missing fields. Details: ' ||
       'T:True, UH:True, QT:False, LT:False, RS:False, RE:False, Q:True' ||
       '. Content snippet: ' || substr({loggen.MYSQL_SKIP_ENTRY}, 1, 200) || '...'
         AS "message"
FROM ev WHERE event_type = 'error'
""",
)
def mysql_skip_warnings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S9: validation-gate diagnostics for incomplete entries."""
    return _mysql_sheet(spark, sf_dir, "warnings")


# --------------------------------------------------------------------------
# Relational extension tier (joins / windows / aggregations — SURVEY §2.8)
# --------------------------------------------------------------------------

def _ssum(c, scale: int):
    """Deterministic double sum via scaled-long accumulation.

    Double sums are summation-order-dependent (and Spark/DuckDB
    partition differently), while long sums are exact and associative;
    per-row ``round(x*scale)`` is deterministic on both engines (values
    here are positive, so HALF_UP == half-away-from-zero). Decimal-typed
    ``sum()`` would also be exact but hits a pathological
    ``Decimal.changePrecision`` path in codegen (measured 1.3s→104s on
    the same data); long accumulation stays in whole-stage codegen.
    Headroom: max |x*scale| ~1e11 over 2^53 rows of slack — fine up to
    ~1e7 rows per value domain used here; production-scale exact money
    aggregation would two-level this (long partials, decimal final).
    """
    return F.sum(F.round(c * scale).cast("long")) / F.lit(float(scale))


@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag,
       l_linestatus,
       SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0      AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS sum_disc_price,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) / 1000000.0
         AS sum_charge,
       SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → partial/final hash agg.

    The shipdate predicate is pushed to the parquet scan; sums use
    decimal accumulation for cross-engine determinism, surfaced as
    doubles.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        _ssum(F.col("l_quantity"), 100).alias("sum_qty"),
        _ssum(F.col("l_extendedprice"), 100).alias("sum_base_price"),
        _ssum(disc_price, 10000).alias("sum_disc_price"),
        _ssum(charge, 1000000).alias("sum_charge"),
        (_ssum(F.col("l_quantity"), 100) / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "join_revenue_by_nation",
    """
SELECT r_name,
       n_name,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue,
       COUNT(DISTINCT c_custkey) AS n_customers,
       COUNT(*)                  AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join chain with broadcast dimensions.

    ``nation``/``region`` are broadcast explicitly (constant-size dims);
    the fact-fact ``lineitem ⋈ orders`` shuffles on the join key and
    AQE handles skew at scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            _ssum(rev, 10000).alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "window_top3_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (top-k per group) with a deterministic tie-break."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "events_hourly_by_type",
    """
SELECT date_trunc('hour', ts) AS hour,
       event_type,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window (hourly) event rollup — the batch twin of the
    streaming slow-query-rate query."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _ssum(F.col("value"), 100).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "events_props_kpi",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       -- outer cast: DuckDB SUM(BIGINT) yields HUGEINT, which breaks
       -- dtype-sensitive hash parity despite identical values
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def events_props_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: JSON-path extraction inside an agg
    (the reference's tolerant ``.get()`` pattern over ``props``)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_props_kpi_variant",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def events_props_kpi_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same KPI through Spark 4's VariantType: ``parse_json`` once
    into the binary variant encoding, then typed ``try_variant_get``
    extraction — the at-scale path for open-ended JSON (parse cost paid
    once; repeated path reads skip string re-parsing). Shares the
    string-path query's oracle, so both engines AND both Spark paths
    must agree."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# --------------------------------------------------------------------------
# Training-data pipeline tier: dedup + text analysis
# --------------------------------------------------------------------------

@register(
    "dedup_exact_documents",
    """
SELECT md5(text) AS fingerprint,
       COUNT(*)  AS n_copies,
       MIN(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
""",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by 128-bit content hash (uniform shuffle key)."""
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "text_token_stats",
    r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
         AS n_distinct_tokens,
       CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
         / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tokenization statistics (narrow, codegen-only)."""
    return token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_quality_scores",
    r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT)
         AS n_stopwords,
       CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
         / len(toks) AS stopword_ratio,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
       (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
         * (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
                  / len(toks)) AS quality_score
FROM t
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (stopword ratio, lexical diversity)."""
    return quality_scores(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Near-duplicate detection + similarity search (oracle SQL is generated
# from the same deterministic md5-derived hashes the operators use)
# --------------------------------------------------------------------------

_SHINGLE_CTE = r"""
t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
sh AS (SELECT doc_id,
              list_distinct(CASE WHEN len(tk) >= 3
                THEN [array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]
                ELSE []::VARCHAR[] END) AS s
       FROM t),
e AS (SELECT doc_id, unnest(s) AS g FROM sh),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
"""


def _jaccard_oracle(threshold: float) -> str:
    return f"""
WITH {_SHINGLE_CTE}
SELECT doc_a, doc_b,
       inter AS intersection_size,
       x.n + y.n - inter AS union_size,
       CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= {threshold}
"""


def _jaccard_capped_oracle(threshold: float, max_df: int) -> str:
    """Capped variant: shingles with document frequency > max_df are
    removed from every document's set BEFORE sizes and intersections,
    mirroring ngram_jaccard_pairs(max_df=...) bit for bit."""
    return rf"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
sh AS (SELECT doc_id,
              list_distinct(CASE WHEN len(tk) >= 3
                THEN [array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]
                ELSE []::VARCHAR[] END) AS s
       FROM t),
e0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
heavy AS (SELECT g FROM e0 GROUP BY g HAVING count(*) > {max_df}),
e AS (SELECT * FROM e0 WHERE g NOT IN (SELECT g FROM heavy)),
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT doc_a, doc_b,
       inter AS intersection_size,
       x.n + y.n - inter AS union_size,
       CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= {threshold}
"""


_JACCARD_MAX_DF = 5


@register("dedup_ngram_jaccard_capped", _jaccard_capped_oracle(0.2, _JACCARD_MAX_DF))
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped exact Jaccard: the at-scale form of the inverted-index
    join. Shingles occurring in > max_df documents are dropped from
    every set first (broadcast anti-join), bounding the join fan-out to
    max_df per shingle — the mitigation that makes exact Jaccard
    runnable when boilerplate n-grams would otherwise go quadratic.
    """
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2, max_df=_JACCARD_MAX_DF
    )


def _split_cte(table: str, id_col: str) -> str:
    """The 70/30 history split as one CTE, ``split(s)``: ids below ``s``
    are the ingested history, the rest the arriving batch — the SQL
    twin of :func:`sources.tables.history_split`."""
    return (
        f"split AS (SELECT CAST((max({id_col}) + 1) * 7 // 10 AS BIGINT) AS s"
        f" FROM {table})"
    )


_INCR_ORACLE = f"""
WITH {_SHINGLE_CTE},
{_split_cte("documents", "doc_id")},
j AS (
  SELECT doc_a, doc_b
  FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
),
newd AS (SELECT doc_id FROM documents, split WHERE doc_id >= s),
agg AS (
  SELECT doc_b AS doc_id,
         SUM(CASE WHEN doc_a < s THEN 1 ELSE 0 END) AS nh,
         SUM(CASE WHEN doc_a >= s THEN 1 ELSE 0 END) AS nb
  FROM j, split
  WHERE doc_b >= s
  GROUP BY doc_b
)
SELECT newd.doc_id,
       CAST(COALESCE(nh, 0) AS BIGINT) AS n_hist_matches,
       CAST(COALESCE(nb, 0) AS BIGINT) AS n_batch_matches,
       CASE WHEN COALESCE(nh, 0) > 0 THEN 'dup_of_history'
            WHEN COALESCE(nb, 0) > 0 THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM newd LEFT JOIN agg ON newd.doc_id = agg.doc_id
"""


@register("dedup_incremental_ingest", _INCR_ORACLE)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest AGAINST THE PERSISTED INDEX: the
    last 30% of the corpus (by doc_id) plays the role of a freshly
    arrived batch, triaged against the first 70% (the ingested
    history) and against earlier rows of its own batch —
    ``dup_of_history`` / ``dup_in_batch`` / ``kept`` per new document,
    with verified-match counts.

    The history's shingle/signature/band tables are built ONCE per
    session by :func:`~...dedup.build_dedup_index` as bucketed parquet
    tables (``sinks.write_bucketed``) and every ingest loads them:
    the band join's history side arrives pre-hashed on the band key
    (zero shuffle — pinned by tests/test_sinks.py) and the batch pays
    only its own signatures. The history×history quadrant (the
    quadratic bulk a naive re-dedup would re-pay on every ingest)
    never materializes. The split point is a one-scalar
    ``max(doc_id)`` action (70/30 at any scale factor)."""
    docs = load_table(spark, sf_dir, "documents")
    split = history_split(docs, "doc_id")
    idx = D.dedup_index_tables(spark, sf_dir, docs, split)
    return D.minhash_triage(
        idx.side(spark), docs.filter(F.col("doc_id") >= split), batch_quadrant=True
    )


def _dedup_index_tables(spark: SparkSession, sf_dir: str) -> "D.DedupIndexTables":
    """Build-once handle for the persisted bucketed dedup index over
    the history slice (first 70% of the corpus by doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_index_tables(spark, sf_dir, docs, history_split(docs, "doc_id"))


INDEX_BUILDERS["dedup_index_build"] = _dedup_index_tables


@register("dedup_minhash_lsh", _jaccard_oracle(0.8))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard (>= 0.8).

    The oracle is the plain exact-Jaccard join at the same threshold:
    with 12 bands x 2 rows the banded recall at J=0.8 is ~1-2e-6 under
    the random model, and tests/test_dedup.py pins equality on the
    fixed testdata — so LSH-vs-exact equivalence is itself under test.

    NOT ``_shared_query``-wrapped (r12 regression, VERDICT item 1):
    persisting the verified pair table charged its materialization to
    this producer (+1.25 s driver-measured) to save the one recall-eval
    consumer less than that. The shareable INPUTS (shingle rows +
    signatures) are session artifacts already, so the consumer re-pays
    only the band join + verification."""
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def _simhash_oracle(max_hamming: int) -> str:
    from sressentials_spark.operators.dedup import (
        SIMHASH_BAND_BITS,
        SIMHASH_BANDS,
        SIMHASH_BITS,
    )

    votes = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(SIMHASH_BITS)
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return rf"""
WITH ex AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
            FROM documents),
hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM ex),
v AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id),
sig AS (SELECT doc_id, {sig} AS simhash FROM v),
bands AS (SELECT doc_id, simhash, i,
                 (simhash >> (i * {SIMHASH_BAND_BITS})) & {mask} AS val
          FROM sig, generate_series(0, {SIMHASH_BANDS - 1}) AS gs(i)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS sa, b.simhash AS sb
         FROM bands a JOIN bands b
           ON a.i = b.i AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


@register("dedup_simhash_pairs", _simhash_oracle(8))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (48-bit) near-dup pairs via banded Hamming LSH.

    NOT ``_shared_query``-wrapped (same reasoning as
    ``dedup_minhash_lsh``): the signature table is the session-shared
    artifact; the band join re-runs per consumer."""
    return D.simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=8
    )


@register(
    "dedup_simhash_recall_eval",
    None,  # composed from the exact-Jaccard and SimHash oracles below
)
def dedup_simhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-strategy quality eval, completing the symmetry the ANN
    tier already has: of the ground-truth duplicate pairs (exact
    Jaccard >= 0.8 — the verified MinHash-LSH output), what fraction
    does the cheaper SimHash route surface? MinHash-LSH is
    recall~1 at its design point by construction (its oracle IS the
    exact join), but SimHash compresses each document to ONE 48-bit
    word — lossy by design — so its recall against set-similarity
    ground truth is a real, informative number: the knob loop for
    (bits, bands, max_hamming), measured in-engine the way the
    LSH/PQ/IVF recall evals are."""
    exact = _consume_shared(spark, sf_dir, "dedup_minhash_lsh").select(
        "doc_a", "doc_b"
    )
    sim = (
        _consume_shared(spark, sf_dir, "dedup_simhash_pairs")
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(sim, ["doc_a", "doc_b"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "n_exact",
            "n_hits",
            F.when(
                F.col("n_exact") > 0,
                F.expr("(1000 * n_hits) div n_exact"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("recall_permille"),
        )
    )


ORACLE_SQL["dedup_simhash_recall_eval"] = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
                 ELSE (1000 * SUM(CASE WHEN s.doc_a IS NOT NULL
                                       THEN 1 ELSE 0 END)) // COUNT(*)
            END AS BIGINT) AS recall_permille
FROM ({ORACLE_SQL["dedup_minhash_lsh"]}) e
LEFT JOIN ({ORACLE_SQL["dedup_simhash_pairs"]}) s
  ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b
"""


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in generate_series(1, len({a}))])"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"(({_dot_sql(a, b)}) / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


#: Oracle SQL for the two all-pairs BASELINE operators. They are no
#: longer shipped queries — a quadratic self-join is not a plan to run
#: at 100× — but stay oracle-checked in tests/test_dedup_baselines.py,
#: where they also pin the equivalence of their scale-path twins
#: (dedup_ngram_jaccard_capped / dedup_embedding_lsh).
BASELINE_ORACLE_SQL: dict[str, str] = {
    "dedup_ngram_jaccard": _jaccard_oracle(0.2),
    "dedup_embedding_cosine": f"""
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cos_sql('a.embedding', 'b.embedding')} AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.4
""",
}


def _emb_bands_ctes(nb_cols: str = "", band_cols: str = "") -> str:
    """``WITH nb AS (...), bands AS (...),`` — the sign-band rows
    ``(vec_id, <band_cols>i, val)`` of ``dedup._signed_vectors``: the
    identical 128 planes and band split, with ``nb_cols`` /
    ``band_cols`` extra columns in each CTE.

    Projections are unrolled to ``0.0 + e[1] - e[2] + ...`` chains: the
    plane weights are all ±1, and IEEE ``a - b`` == ``a + (-1.0 * b)``
    exactly, so the left-associated chain is bit-identical to the Arrow
    kernel's per-dimension fold while keeping the SQL ~7x smaller and
    far faster than a per-row list comprehension."""
    bands, bits = D.EMB_LSH_BANDS, D.EMB_LSH_BAND_BITS
    weights = _plane_matrix(bands * bits, D.DEFAULT_DIM)

    def proj(p: int) -> str:
        terms = "".join(
            f" {'+' if w > 0 else '-'} CAST(embedding[{i + 1}] AS DOUBLE)"
            for i, w in enumerate(weights[p])
        )
        return f"(0.0{terms})"

    bv_defs = []
    for b in range(bands):
        terms = [
            f"CASE WHEN {proj(b * bits + j)} > 0 THEN CAST({1 << j} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
            for j in range(bits)
        ]
        bv_defs.append("(" + " + ".join(terms) + f") AS bv{b}")
    case_val = (
        "CASE i "
        + " ".join(f"WHEN {b} THEN bv{b}" for b in range(bands))
        + " END"
    )
    return f"""WITH nb AS (SELECT vec_id, {nb_cols}{', '.join(bv_defs)} FROM embeddings),
bands AS (SELECT vec_id, {band_cols}i, {case_val} AS val
          FROM nb, generate_series(0, {bands - 1}) AS gs(i)),"""


def _emb_lsh_oracle(threshold: float) -> str:
    """Banded hyperplane-LSH near-dup oracle: the sign bands, candidate
    join, and exact-cosine verification of
    ``dedup.embedding_near_dup_lsh``."""
    return f"""
{_emb_bands_ctes()}
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bands a JOIN bands b
           ON a.i = b.i AND a.val = b.val AND a.vec_id < b.vec_id)
SELECT * FROM (
  SELECT vec_a, vec_b, {_cos_sql('x.embedding', 'y.embedding')} AS cosine
  FROM cand JOIN embeddings x ON vec_a = x.vec_id
            JOIN embeddings y ON vec_b = y.vec_id
) WHERE cosine >= {threshold}
"""


@register(
    "emb_dedup_components",
    f"""
WITH RECURSIVE pairs AS ({_emb_lsh_oracle(0.4)}),
edges AS (SELECT vec_a AS s, vec_b AS d FROM pairs
          UNION ALL SELECT vec_b, vec_a FROM pairs),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
)
SELECT id AS vec_id, MIN(r) AS canonical_id, (MIN(r) <> id) AS is_dup
FROM reach GROUP BY id
""",
)
def emb_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-side dedup closure: banded-LSH cosine near-dup
    pairs resolved to per-vector canonical assignments by the same
    min-label propagation as the text-side components query — the
    "keep one vector per semantic cluster" filter an embedding store
    applies before indexing. Oracle walks the identical edge set with
    a recursive CTE."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dup_lsh(emb, threshold=0.4)
    return P.connected_components(
        emb, pairs, id_col="vec_id", pair_cols=("vec_a", "vec_b")
    )


@register("dedup_embedding_lsh", _emb_lsh_oracle(0.4))
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH embedding near-dups (>= 0.4) with exact verification —
    the scale path: candidates from a 16-band x 8-bit sign-signature
    equi-join (an unrelated pair collides w.p. 16/256 ~ 6%) instead of
    an all-pairs join; every candidate exactly re-scored."""
    return D.embedding_near_dup_lsh(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


_TOPK_QUERY_IDS = [0, 1, 2, 3, 4]
_TOPK_IDS_SQL = ", ".join(map(str, _TOPK_QUERY_IDS))

#: Rank the scored (query_id, neighbor_id, cosine) candidates and keep
#: each query's top 10: the tail every cosine top-k oracle ends in.
_COSINE_TOP10_SQL = """r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10"""


@register(
    "sim_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id IN ({_TOPK_IDS_SQL})),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  {_cos_sql('q.qv', 'e.embedding')} AS cosine
           FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
{_COSINE_TOP10_SQL}
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors (brute force).
    Session-shared: eleven other queries (every recall@10 eval, through
    :func:`_recall_at_k`) re-serve this exact frame, so it materializes
    once per pass (_shared_query)."""
    return _shared_query(
        spark, sf_dir, "sim_cosine_topk",
        lambda: S.cosine_topk(
            load_table(spark, sf_dir, "embeddings"), _TOPK_QUERY_IDS, k=10
        ),
    )


def _recall_at_k(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """Recall@10 of an approximate top-k against the exact one, per
    query (integer permille): the session-shared ``sim_cosine_topk``
    rows left-joined to ``approx`` on (query_id, neighbor_id), hits
    counted. Every ANN eval is this fragment over its own approximate
    side; :func:`_recall_sql` is its DuckDB twin."""
    exact = QUERIES["sim_cosine_topk"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    return (
        exact.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("(1000 * n_hits) div n_exact").alias("recall_permille"),
        )
    )


def _recall_sql(approx_sql: str) -> str:
    """DuckDB twin of :func:`_recall_at_k`: the exact top-k oracle
    left-joined to ``approx_sql`` (any SELECT exposing query_id and
    neighbor_id, one row per pair)."""
    return f"""
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST((1000 * SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
         // COUNT(*) AS BIGINT) AS recall_permille
FROM ({ORACLE_SQL["sim_cosine_topk"]}) e
LEFT JOIN ({approx_sql}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


def _lsh_proj_sql(vec: str, p: int, planes: int | None = None) -> str:
    """Raw fold-exact projection of ``vec`` onto hyperplane ``p``."""
    row = _plane_matrix(planes or S.LSH_PLANES, D.DEFAULT_DIM)[p]
    warr = "[" + ", ".join(str(w) for w in row) + "]::DOUBLE[]"
    return (
        f"list_sum([CAST({vec}[i] AS DOUBLE) * ({warr})[i] "
        f"for i in generate_series(1, len({vec}))])"
    )


def _lsh_bucket_sql(vec: str, planes: int | None = None) -> str:
    n = planes or S.LSH_PLANES
    terms = [
        f"CASE WHEN ({_lsh_proj_sql(vec, p, n)}) > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for p in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "sim_cosine_topk_lsh",
    f"""
WITH wb AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
            FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qb FROM wb
      WHERE vec_id IN ({_TOPK_IDS_SQL})),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  {_cos_sql('q.qv', 'e.embedding')} AS cosine
           FROM q JOIN wb e ON e.bucket = q.qb AND e.vec_id <> q.query_id),
{_COSINE_TOP10_SQL}
""",
)
def sim_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors via hyperplane-LSH bucketing."""
    return _shared_query(
        spark, sf_dir, "sim_cosine_topk_lsh",
        lambda: S.cosine_topk_lsh(
            load_table(spark, sf_dir, "embeddings"), _TOPK_QUERY_IDS, k=10
        ),
    )


def _multiprobe_probes_sql(ids: str, nprobe: int) -> str:
    """CTE chain producing (query_id, qv, pb): the query's own bucket
    plus single-bit flips of its ``nprobe - 1`` lowest-|margin| planes
    — the SQL restatement of ``similarity.multiprobe_buckets``."""
    per_plane = " UNION ALL ".join(
        f"SELECT query_id, {p} AS plane, "
        f"abs({_lsh_proj_sql('qv', p)}) AS ap FROM q"
        for p in range(S.LSH_PLANES)
    )
    return f"""
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qb FROM wb
      WHERE vec_id IN ({ids})),
qp AS ({per_plane}),
fl AS (SELECT query_id, plane,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ap, plane) AS rn
       FROM qp),
probes AS (
  SELECT query_id, qv, qb AS pb FROM q
  UNION ALL
  SELECT q.query_id, q.qv, xor(q.qb, (CAST(1 AS BIGINT) << f.plane)) AS pb
  FROM q JOIN fl f ON f.query_id = q.query_id AND f.rn <= {nprobe - 1}
)"""


_MULTIPROBE_SQL = f"""
WITH wb AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
            FROM embeddings),
{_multiprobe_probes_sql(', '.join(map(str, _TOPK_QUERY_IDS)), S.MULTIPROBE_PROBES)},
scored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
                  {_cos_sql('p.qv', 'e.embedding')} AS cosine
           FROM probes p JOIN wb e ON e.bucket = p.pb AND e.vec_id <> p.query_id),
{_COSINE_TOP10_SQL}
"""


@register("sim_cosine_topk_lsh_multiprobe", _MULTIPROBE_SQL)
def sim_cosine_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al., VLDB'07): each query
    scores its own bucket PLUS the buckets across its 3 lowest-margin
    planes — the planes whose sign bit was least certain for this
    vector, exactly where a missed true neighbor most likely lives.
    Same index artifact as the single-probe query (multi-probe is a
    query-side knob — no rebuild); fan-in 4/64 of the corpus, the same
    expected cost as a single-probe 4-plane index but with higher
    recall (measured by ``sim_lsh_multiprobe_recall_at_k``)."""
    return S.cosine_topk_lsh(
        load_table(spark, sf_dir, "embeddings"), _TOPK_QUERY_IDS, k=10,
        nprobe=S.MULTIPROBE_PROBES,
    )


def _ivf_cells_ctes(history_split: bool) -> str:
    """The hash-seeded cosine-IVF cells as CTEs (no leading WITH):
    ``seeds`` (IVF_CELLS hash-picked centroids, drawn from the history
    slice when ``history_split`` — the frozen build-time seeds of the
    70/30 ingest — else from the full corpus), ``assign`` (every
    vector's centroids ranked by fold-exact cosine, ``rn``) and
    ``cells`` (its nearest one); rows keep ``label`` for the filtered
    search."""
    split, hist = "", ""
    if history_split:
        split = f"{_split_cte('embeddings', 'vec_id')},"
        hist = "WHERE vec_id < (SELECT s FROM split)"
    return f"""{split}
seeds AS (
  SELECT vec_id AS cid, embedding AS cv
  FROM embeddings
  {hist}
  ORDER BY ('0x' || substring(md5('{S.IVF_SEED}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
           vec_id
  LIMIT {S.IVF_CELLS}
),
assign AS (
  SELECT vec_id, embedding, label, cid, ccos,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
  FROM (SELECT e.vec_id, e.embedding, e.label, s.cid,
               {_cos_sql('e.embedding', 's.cv')} AS ccos
        FROM embeddings e CROSS JOIN seeds s)
),
cells AS (SELECT vec_id, embedding, label, cid AS cell FROM assign WHERE rn = 1)"""


def _ivf_topk_sql(history_split: bool) -> str:
    """Cosine-IVF top-10 over :func:`_ivf_cells_ctes`: each query
    probes its IVF_NPROBE nearest cells and ranks their members by
    exact cosine. ``history_split`` restates the 70/30
    build-then-ingest index (every vector assigned under seeds frozen
    on the history slice)."""
    return f"""
WITH {_ivf_cells_ctes(history_split)},
probes AS (SELECT vec_id AS query_id, embedding AS qv, cid AS pcell FROM assign
           WHERE vec_id IN ({_TOPK_IDS_SQL})
             AND rn <= {S.IVF_NPROBE}),
scored AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                  {_cos_sql('p.qv', 'c.embedding')} AS cosine
           FROM probes p JOIN cells c ON c.cell = p.pcell AND c.vec_id <> p.query_id),
{_COSINE_TOP10_SQL}
"""


def _ivf_oversized_ctes(cells: str) -> str:
    """The rebalance split decision over a ``(vec_id, cell)`` relation
    named ``cells``: a cell holding more than IVF_REBALANCE_PCT% of the
    uniform share is oversized. Both tiers' rebalance oracles use it."""
    return f"""
thresh AS (SELECT CAST(COUNT(*) * {IV.IVF_REBALANCE_PCT}
                       // ({S.IVF_CELLS} * 100) AS BIGINT) AS t
           FROM embeddings),
oversized AS (
  SELECT cell FROM {cells}, thresh GROUP BY cell, t HAVING COUNT(*) > t
)"""


#: The split's child-seed rank of a member ``c`` of an oversized cell:
#: the ``IVF_SPLIT_SEED`` md5 of its id (ties by id; the two lowest
#: seed the children).
_SPLIT_RANK_SQL = (
    f"('0x' || substring(md5('{IV.IVF_SPLIT_SEED}:' || "
    "CAST(c.vec_id AS VARCHAR)), 1, 15))::BIGINT"
)


def _ivf_rebalanced_topk_sql(history_split: bool) -> str:
    """Cosine-IVF top-10 after a REBALANCE of :func:`_ivf_cells_ctes`:
    every oversized cell splits into two hash-picked child seeds, its
    members re-pointed to the nearer child; probes are ranked against
    the POST-split centroid set, exact cosine scoring inside probed
    cells. ``history_split`` restates the full versioned lifecycle
    (build 70% -> ingest 30% under frozen seeds -> rebalance)."""
    return f"""
WITH {_ivf_cells_ctes(history_split)},{_ivf_oversized_ctes("cells")},
chseeds AS (
  SELECT cell AS parent, vec_id AS cid, embedding AS cv FROM (
    SELECT c.cell, c.vec_id, c.embedding,
           ROW_NUMBER() OVER (PARTITION BY c.cell ORDER BY
             {_SPLIT_RANK_SQL},
             c.vec_id) AS rn
    FROM cells c JOIN oversized o ON o.cell = c.cell)
  WHERE rn <= 2
),
moved AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT m.vec_id, m.embedding, s.cid,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY ccos DESC, s.cid ASC) AS rn
    FROM (SELECT c.* FROM cells c JOIN oversized o ON o.cell = c.cell) m
    JOIN chseeds s ON s.parent = m.cell
    JOIN LATERAL (SELECT {_cos_sql('m.embedding', 's.cv')} AS ccos) x ON TRUE)
  WHERE rn = 1
),
cells2 AS (
  SELECT vec_id, cell FROM cells
  WHERE cell NOT IN (SELECT cell FROM oversized)
  UNION ALL
  SELECT vec_id, cell FROM moved
),
cents2 AS (
  SELECT DISTINCT ON (cid) cid, cv FROM (
    SELECT cid, cv FROM seeds WHERE cid NOT IN (SELECT cell FROM oversized)
    UNION ALL
    SELECT cid, cv FROM chseeds
  ) ORDER BY cid
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid AS pcell FROM (
    SELECT e.vec_id, e.embedding, c2.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ccos DESC, c2.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cents2 c2
    JOIN LATERAL (SELECT {_cos_sql('e.embedding', 'c2.cv')} AS ccos) x ON TRUE
    WHERE e.vec_id IN ({_TOPK_IDS_SQL}))
  WHERE rn <= {S.IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('p.qv', 'emb2.embedding')} AS cosine
  FROM probes p
  JOIN cells2 c ON c.cell = p.pcell AND c.vec_id <> p.query_id
  JOIN embeddings emb2 ON emb2.vec_id = c.vec_id
),
{_COSINE_TOP10_SQL}
"""


@register("sim_cosine_topk_ivf", _ivf_topk_sql(history_split=False))
def sim_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors via an IVF coarse quantizer:
    hash-seeded centroids, fold-exact cell assignment, nprobe-cell
    search — served from the PERSISTED cell-partitioned index
    (:func:`similarity.build_ivf_index`, built once per session): the
    corpus scan is pruned to the query batch's probed cells at the
    partition level, the steady-state cost once the index exists.
    The data-adaptive complement to the hyperplane-LSH path."""
    return _shared_query(
        spark, sf_dir, "sim_cosine_topk_ivf",
        lambda: S.cosine_topk_ivf_from_index(
            spark, _ivf_index_path(spark, sf_dir), _TOPK_QUERY_IDS, k=10
        ),
    )


def _ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the persisted IVF index over a corpus
    (disk artifact — survives ``release_persisted``, removed at
    process exit; at scale this is a warehouse table path)."""
    from sressentials_spark.scratch import scratch_dir

    def _build() -> str:
        return S.build_ivf_index(
            load_table(spark, sf_dir, "embeddings"),
            scratch_dir("sressentials_ivf_index_"),
        )

    return get_or_build(spark, ("ivf_index", sf_dir), _build, tier="disk")


INDEX_BUILDERS["ivf_index_build"] = _ivf_index_path


@register(
    "sim_cosine_topk_ivf_filtered",
    f"""
WITH {_ivf_cells_ctes(history_split=False)},
probes AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel, cid AS pcell
           FROM assign
           WHERE vec_id IN ({_TOPK_IDS_SQL})
             AND rn <= {S.IVF_NPROBE}),
scored AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                  {_cos_sql('p.qv', 'c.embedding')} AS cosine
           FROM probes p JOIN cells c
             ON c.cell = p.pcell AND c.label = p.qlabel
            AND c.vec_id <> p.query_id),
{_COSINE_TOP10_SQL}
""",
)
def sim_cosine_topk_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — the production vector-search pattern: each query
    scores only corpus vectors sharing its ``label``, composed with the
    IVF cell pruning (the metadata predicate filters INSIDE probed
    cells; the shared index is built on the unfiltered corpus and
    served from the persisted cell-partitioned store)."""
    return S.cosine_topk_ivf_from_index(
        spark,
        _ivf_index_path(spark, sf_dir),
        _TOPK_QUERY_IDS,
        k=10,
        filter_col="label",
    )


# ---- Product quantization (Jégou et al. 2011), trained codebooks ----------

_PQ_DSUB = 64 // S.PQ_M
_PQ_SCALE = "1048576.0"  # QUANT_SCALE as an exact double literal

#: Trained-codebook CTE fragment over the raw corpus: hash-ordered
#: training sample -> integer quantization -> unrolled Lloyd's rounds
#: -> pq_books(m, cid, cq) + pq_codes(vec_id, m, code). Must match
#: similarity.pq_train_codebooks / pq_codes bit-for-bit (integer math
#: end to end; argmin ties to the lowest surviving centroid id).
def _km_ctes(k: int, iters: int, dim: int, table: str = "embeddings") -> str:
    """Trained-coarse-quantizer CTE fragment: the shared integer
    k-means chain (cluster.kmeans_oracle_ctes) WITHOUT the leading
    WITH, so it composes into larger oracles (IVF-PQ). ``table`` may
    be an earlier CTE name, restricting training to a corpus slice
    (the frozen-artifact ingest restatement trains on history only)."""
    from sressentials_spark.operators.cluster import kmeans_oracle_ctes

    return kmeans_oracle_ctes(k=k, iters=iters, dim=dim, table=table)[len("WITH ") :]


_PQ_TRAIN_SQL = S.pq_train_sql_ctes(src="embeddings")


def _pq_resid_term_sql(
    q: str, coarse_cq: str, books: str, dsub: int = _PQ_DSUB
) -> str:
    """Fold-exact ADC distance of one query RESIDUAL subspace
    (query minus probed-cell TRAINED centroid — integer grid back to
    floats via the exact /2^20 shift — computed first: the same IEEE
    ops, in the same order, as the driver-side table builder) against
    one trained residual centroid list. ``dsub`` is the subspace width
    (64 // M — the rerank tier runs a finer M=8 grid)."""
    t = (
        f"((CAST({q}[{books}.m*{dsub}+j] AS DOUBLE)"
        f" - CAST({coarse_cq}[{books}.m*{dsub}+j] AS DOUBLE) / {_PQ_SCALE})"
        f" - CAST({books}.cq[j] AS DOUBLE) / {_PQ_SCALE})"
    )
    return (
        f"list_sum([{t} * {t} for j in generate_series(1, {dsub})])"
    )


def _pq_adc_term_sql(q: str, books: str) -> str:
    """Fold-exact ADC distance of one query subspace against one
    trained centroid list (codebook ints back to floats via the exact
    /2^20 exponent shift)."""
    t = (
        f"(CAST({q}[{books}.m*{_PQ_DSUB}+j] AS DOUBLE)"
        f" - CAST({books}.cq[j] AS DOUBLE) / {_PQ_SCALE})"
    )
    return (
        f"list_sum([{t} * {t} for j in generate_series(1, {_PQ_DSUB})])"
    )


@register(
    "sim_pq_codes",
    f"""
WITH {_PQ_TRAIN_SQL}
SELECT vec_id,
       {', '.join(
           f'CAST(MAX(CASE WHEN m = {i} THEN code END) AS BIGINT) AS code_{i}'
           for i in range(S.PQ_M)
       )}
FROM pq_codes GROUP BY vec_id
""",
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code words: every corpus vector compressed
    to {M} centroid indices (one per 16-dim subspace; hash-seeded
    codebooks, fold-exact squared-L2 argmin with smallest-index
    tie-break). At 100 TB the codes table IS the serving index — M
    small ints per vector instead of 64 floats (~32× smaller), scanned
    whole during ADC search while raw vectors stay cold."""
    return S.pq_codes(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_pq_adc_topk",
    f"""
WITH {_PQ_TRAIN_SQL},
qd AS (SELECT q.vec_id AS query_id, b.m, b.cid AS k,
              {_pq_adc_term_sql('q.embedding', 'b')} AS dq
       FROM embeddings q CROSS JOIN pq_books b
       WHERE q.vec_id IN ({_TOPK_IDS_SQL})),
p AS (SELECT qd.query_id, c.vec_id AS neighbor_id, qd.m, qd.dq
      FROM pq_codes c JOIN qd ON qd.m = c.m AND qd.k = c.code
      WHERE c.vec_id <> qd.query_id),
g AS (SELECT query_id, neighbor_id,
             {', '.join(
                 f'MAX(CASE WHEN m = {i} THEN dq END) AS d{i}'
                 for i in range(S.PQ_M)
             )}
      FROM p GROUP BY query_id, neighbor_id),
r AS (SELECT query_id, neighbor_id,
             ((d0 + d1) + d2) + d3 AS adc_dist FROM g),
rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       FROM r)
SELECT query_id, neighbor_id, adc_dist, rank FROM rr WHERE rank <= 10
""",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-10: the query stays exact,
    neighbors are their code words, distance = sum of per-subspace
    table lookups (per-query M×K tables computed driver-side with the
    shared left-fold arithmetic, broadcast into an (m, code)
    equi-join; fixed re-association order keeps the double
    bit-reproducible). The compressed-domain complement to the
    IVF/LSH pruning paths — at scale ADC scans only the codes table
    and never touches a raw corpus vector."""
    return S.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"), _TOPK_QUERY_IDS, topk=10
    )


@register("sim_pq_recall_at_k", _recall_sql(ORACLE_SQL["sim_pq_adc_topk"]))
def sim_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality as a first-class query: recall@10 of the
    compressed-domain ADC top-k against the exact cosine top-k, per
    query (integer permille). This is the tuning loop for (M, K) —
    quantization error shows up here directly, the same in-engine
    eval the LSH paths get."""
    return _recall_at_k(spark, sf_dir, QUERIES["sim_pq_adc_topk"](spark, sf_dir))


@register("sim_ivf_recall_at_k", _recall_sql(ORACLE_SQL["sim_cosine_topk_ivf"]))
def sim_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality as a first-class query: recall@10 of the
    nprobe-cell IVF search against the exact cosine top-k, per query
    (integer permille) — the missing member of the ANN-eval family
    (LSH, multi-probe LSH and PQ already have one). This is the knob
    loop for (cells, nprobe): recall lost to cell pruning shows up
    here directly, measured against the same persisted
    cell-partitioned index the serving query scans."""
    return _recall_at_k(
        spark, sf_dir, QUERIES["sim_cosine_topk_ivf"](spark, sf_dir)
    )


@register("sim_ivf_index_ingest", _recall_sql(_ivf_topk_sql(history_split=True)))
def sim_ivf_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the ANN twin of
    ``dedup_incremental_ingest``: the first 70% of the corpus (by
    vec_id) builds the manifest-versioned index (v1), the newest 30%
    arrives as an ingest batch and is APPENDED as one committed
    version (v2) under the centroids FROZEN at build time
    (:func:`ivf_versioned.ingest_index_versioned` — assign the
    batch, commit its lists; no v1 file is read or rewritten, pinned in
    tests/test_ivf_versioned.py). Served as a TIME-TRAVEL read of v2
    while the lifecycle store's later versions (rebalance v3, compact
    v4) are live. Returns recall@10 against the exact top-k over the
    FULL corpus — the number that tells an operator when centroid
    drift has accumulated enough to warrant the periodic re-seed
    rebuild. Per-ingest cost at 100 TB: O(batch), never O(index)."""
    return _recall_at_k(
        spark, sf_dir, _ivf_versioned_topk(spark, sf_dir, _ivf_versioned_index_path, 2)
    )


def _ivf_rebalance_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the built-then-rebalanced IVF index: a
    versioned build over the full corpus (v1), then every oversized
    cell split in one crash-atomic commit (v2)."""

    def _build() -> str:
        from sressentials_spark.scratch import scratch_dir

        base = scratch_dir("sressentials_ivf_rebal_")
        IV.build_ivf_index_versioned(load_table(spark, sf_dir, "embeddings"), base)
        stats = IV.rebalance_index_versioned(spark, base)
        if stats["cells_split"] < 1:
            raise ValueError(f"fixture produced no oversized cell: {stats}")
        if manifest_versions(base) != [1, 2]:
            raise ValueError(
                f"rebalance must commit v2: {manifest_versions(base)}"
            )
        return base

    return get_or_build(spark, ("ivf_rebalance_index", sf_dir), _build, tier="disk")


INDEX_BUILDERS["ivf_rebalance_index_build"] = _ivf_rebalance_index_path


def _ivf_versioned_topk(
    spark: SparkSession,
    sf_dir: str,
    path_of: Callable[[SparkSession, str], str],
    version: int | None = None,
) -> DataFrame:
    """IVF top-10 of the query set served from the versioned store
    ``path_of`` builds, at ``version`` (default latest), with the query
    vectors looked up in the embeddings table."""
    return IV.cosine_topk_ivf_versioned(
        spark,
        path_of(spark, sf_dir),
        _TOPK_QUERY_IDS,
        k=10,
        version=version,
        query_src=load_table(spark, sf_dir, "embeddings"),
    )


@register(
    "sim_ivf_rebalance", _recall_sql(_ivf_rebalanced_topk_sql(history_split=False))
)
def sim_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell REBALANCE — the lifecycle op that follows ingest: every
    cell whose inverted list outgrew 115% of the uniform share splits
    into two hash-seeded children, its members re-pointed to the
    nearer child, and the split publishes as ONE crash-atomic manifest
    version (:func:`ivf_versioned.rebalance_index_versioned`; the
    rest of the index is neither read nor rewritten, pinned in
    tests/test_ivf_versioned.py via file sizes + mtimes). Queries probe
    the post-split centroid set that rides in the same manifest.
    Returns recall@10 of the rebalanced search against the exact
    top-k — recall parity with the pre-split index at equal nprobe is
    the acceptance bar (docs/ANN_EVAL.md)."""
    return _recall_at_k(
        spark, sf_dir, _ivf_versioned_topk(spark, sf_dir, _ivf_rebalance_index_path)
    )


def _ivf_versioned_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the CRASH-ATOMIC (manifest-versioned) IVF
    index exercised across its whole lifecycle on ONE store: v1 =
    build on the oldest 70% of the corpus, v2 = ingest the newest 30%
    under the frozen v1 centroids, v3 = rebalance (every oversized cell
    split), v4 = COMPACT (every cell the ingest/rebalance commits left
    fragmented rewritten into size-targeted files). Every transition
    is one atomically-linked manifest commit (operators/ivf_versioned.py
    — kill-between-steps model-tested in tests/test_ivf_versioned.py),
    so a reader can never observe a half-applied step, and each
    lifecycle state is served as a version-pinned read:
    ``sim_ivf_index_ingest`` pins v2, ``sim_ivf_versioned_lifecycle_topk``
    pins v3, ``maintenance_ivf_compact_serve_topk`` reads the latest.
    The guards assert at least one cell actually split, compaction ran
    and shrank the file count, and exactly four versions committed."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = history_split(emb, "vec_id")

    def _build() -> str:
        from sressentials_spark.scratch import scratch_dir

        base = scratch_dir("sressentials_ivf_versioned_")
        IV.build_ivf_index_versioned(emb.filter(F.col("vec_id") < split), base)
        IV.ingest_index_versioned(emb.filter(F.col("vec_id") >= split), base)
        stats = IV.rebalance_index_versioned(spark, base)
        if stats["cells_split"] < 1:
            raise ValueError(f"fixture produced no oversized cell: {stats}")
        out = IV.compact_ivf_index_versioned(spark, base)
        if out["cells_compacted"] < 1 or out["files_after"] >= out["files_before"]:
            raise ValueError(f"compaction did not run or did not shrink: {out}")
        if manifest_versions(base) != [1, 2, 3, 4]:
            raise ValueError(
                f"lifecycle must commit 4 versions: {manifest_versions(base)}"
            )
        return base

    return get_or_build(
        spark, ("ivf_versioned_index", sf_dir, split), _build, tier="disk"
    )


INDEX_BUILDERS["ivf_versioned_index_build"] = _ivf_versioned_index_path


@register(
    "sim_ivf_versioned_lifecycle_topk", _ivf_rebalanced_topk_sql(history_split=True)
)
def sim_ivf_versioned_lifecycle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served from the CRASH-ATOMIC manifest-versioned index
    after build 70% -> ingest 30% -> rebalance, putting the versioned
    tier under the oracle gate end-to-end: the result must equal a
    relational restatement of all three lifecycle steps composed.
    Served as a TIME-TRAVEL read of v3 while v4 (the compaction) is
    live. Versioned-tier properties on the hook: centroids ride INSIDE
    the atomically-published manifest (probes derive from the same
    committed object as the lists — no sidecar race), the split
    decision reads only manifest row counts, and the query scan plans
    only the probed cells' files (manifest-level pruning). The crash
    semantics themselves are model-tested by killing the rebalance
    after every mutation step (tests/test_ivf_versioned.py); this
    query pins the VALUES the surviving commits serve."""
    return _ivf_versioned_topk(spark, sf_dir, _ivf_versioned_index_path, 3)


@register(
    "maintenance_ivf_compact_serve_topk",
    None,  # shares sim_ivf_versioned_lifecycle_topk's oracle verbatim (set below)
)
def maintenance_ivf_compact_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPACT verb end-to-end — the last table-format maintenance
    verb whose SERVED output gets an oracle row (append/ingest,
    rebalance, delete, refresh and vacuum survivors are already gated):
    on the cosine lifecycle store, whose ingest + rebalance commits
    left hot cells fragmented across per-batch files,
    ``compact_ivf_index_versioned`` rewrites each fragmented cell into
    size-targeted files and publishes the swap as ONE crash-atomic
    manifest version (v4). Compaction swaps FILES, never rows/cells/
    centroids, so serving from the compacted latest must equal the
    pre-compaction lifecycle answer (v3) bit-for-bit — this query
    SHARES ``sim_ivf_versioned_lifecycle_topk``'s oracle verbatim (the
    same zero-residue statement ``maintenance_ivfpq_refresh_serve_topk``
    makes by sharing the full-build oracle). The crash atomicity of
    the verb itself is kill-injection model-tested in
    tests/test_ivf_versioned.py."""
    return _ivf_versioned_topk(spark, sf_dir, _ivf_versioned_index_path)


ORACLE_SQL["maintenance_ivf_compact_serve_topk"] = ORACLE_SQL[
    "sim_ivf_versioned_lifecycle_topk"
]


def _ivf_version_history_sql() -> str:
    """Restatement of the LOGICAL columns of ``ivf_index_history``
    over the cosine lifecycle (build 70% -> ingest 30% -> rebalance),
    parity-checked in tests/test_ivfpq_rebalance_oracle.py and not yet
    a registered query. v1 rows = the history slice, v2/v3
    rows = the full corpus, and v3's cell count grows by exactly the
    split decision's oversized-cell count (each split retires one cell
    and seeds two children); ``n_files`` and the stamp column are
    physical/ledger surface outside the relational statement
    (model-tested instead)."""
    return f"""
WITH {_ivf_cells_ctes(history_split=True)},{_ivf_oversized_ctes("cells")}
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS version,
         (SELECT COUNT(*) FROM embeddings
          WHERE vec_id < (SELECT s FROM split)) AS n_rows,
         CAST({S.IVF_CELLS} AS BIGINT) AS n_cells
  UNION ALL
  SELECT 2, (SELECT COUNT(*) FROM embeddings), {S.IVF_CELLS}
  UNION ALL
  SELECT 3, (SELECT COUNT(*) FROM embeddings),
         {S.IVF_CELLS} + (SELECT COUNT(*) FROM oversized)
) ORDER BY version
"""


def _pqr_codes_ctes(*, m: int = S.PQ_M, history_split: bool = False) -> str:
    """Residual PQ (CTEs, no leading WITH): ``pqr_src`` holds every
    row's raw embedding minus its home cell's coarse centroid
    (``icells`` -> ``tcents``); codebooks ``pqr_books`` are trained on
    every residual, or on the oldest-70% residuals only with
    ``history_split`` (the frozen-codebook ingest state), and codes
    ``pqr_codes`` cover every row."""
    src = f"""pqr_src AS (
  SELECT e2.vec_id,
         [CAST(e2.embedding[i] AS DOUBLE) - CAST(t.cq[i] AS DOUBLE) / {_PQ_SCALE}
          for i in generate_series(1, 64)] AS rv
  FROM embeddings e2
  JOIN icells c ON c.vec_id = e2.vec_id
  JOIN tcents t ON t.cid = c.cell
)"""
    hist = (
        """
histresid AS (SELECT vec_id, rv FROM pqr_src
              WHERE vec_id < (SELECT s FROM split)),"""
        if history_split
        else ""
    )
    train = S.pq_train_sql_ctes(
        src="pqr_src", vec="rv", prefix="pqr", m=m,
        train_src="histresid" if history_split else None,
    )
    return f"{src},{hist}\n{train}"


def _ivfadc_tail_sql(
    *, queries: str, cents: str, cells: str, codes: str,
    m: int = S.PQ_M, limit: int = 10,
) -> str:
    """The IVFADC serve tail (CTEs ``iprobes`` .. ``rr`` plus the final
    SELECT) over named CTEs: ``queries(vec_id, q)`` the quantized
    vectors, ``cents(cid, cq)`` the coarse centroids, ``cells(vec_id,
    cell)`` the inverted lists and ``codes(vec_id, m, code)`` the PQ
    codes under ``pqr_books``. Integer-L2 probe selection -> candidates
    in the probed cells -> per-(query, cell, subspace) residual
    distance terms -> fixed left-associated sum -> top ``limit`` per
    query."""
    dsub = 64 // m
    total = "d0"
    for i in range(1, m):
        total = f"({total} + d{i})"
    return f"""iprobes AS (
  SELECT vec_id AS query_id, cid AS pcell FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum([(e.q[j] - c.cq[j]) * (e.q[j] - c.cq[j])
                            for j in generate_series(1, 64)]) AS BIGINT),
             c.cid) AS rn
    FROM {queries} e CROSS JOIN {cents} c
    WHERE e.vec_id IN ({_TOPK_IDS_SQL}))
  WHERE rn <= {S.IVF_NPROBE}),
cand AS (SELECT p.query_id, p.pcell, c.vec_id AS neighbor_id
         FROM iprobes p JOIN {cells} c
           ON c.cell = p.pcell AND c.vec_id <> p.query_id),
rqd AS (SELECT p.query_id, p.pcell, b.m, b.cid AS k,
               {_pq_resid_term_sql('q.embedding', 't.cq', 'b', dsub=dsub)} AS dq
        FROM iprobes p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN {cents} t ON t.cid = p.pcell
        CROSS JOIN pqr_books b),
p2 AS (SELECT cand.query_id, cand.neighbor_id, rqd.m, rqd.dq
       FROM cand
       JOIN {codes} c ON c.vec_id = cand.neighbor_id
       JOIN rqd ON rqd.query_id = cand.query_id
              AND rqd.pcell = cand.pcell
              AND rqd.m = c.m AND rqd.k = c.code),
g AS (SELECT query_id, neighbor_id,
             {', '.join(
                 f'MAX(CASE WHEN m = {i} THEN dq END) AS d{i}'
                 for i in range(m)
             )}
      FROM p2 GROUP BY query_id, neighbor_id),
r AS (SELECT query_id, neighbor_id,
             {total} AS adc_dist FROM g),
rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       FROM r)
SELECT query_id, neighbor_id, adc_dist, rank FROM rr WHERE rank <= {limit}
"""


def _ivfpq_adc_sql(*, m: int = S.PQ_M, limit: int = 10) -> str:
    """Full IVFADC restatement, parameterized on the PQ subspace count
    ``m`` and the per-query rank cut ``limit``: trained coarse k-means
    cells -> integer-L2 probe selection -> residuals vs the probed
    cell's centroid -> m residual-trained codebooks -> per-(query,
    cell, subspace) distance terms -> fixed left-associated sum. The
    default (m=PQ_M) IS the ``sim_pq_adc_topk_ivf`` oracle; the rerank
    tier composes a finer m=8 grid at limit=100, its shortlist
    (docs/ANN_EVAL.md: the M sweep — ADC ranking inside probed cells
    is the knob that moves shortlist quality, so only the rerank index
    pays the finer grid)."""
    return f"""
WITH {_km_ctes(k=S.IVF_CELLS, iters=S.PQ_ITERS, dim=64)},
tcents AS (SELECT cid, cq FROM c{S.PQ_ITERS}),
icells AS (SELECT vec_id, cluster AS cell FROM afin),
{_pqr_codes_ctes(m=m)},
{_ivfadc_tail_sql(
    queries="emb", cents="tcents", cells="icells", codes="pqr_codes",
    m=m, limit=limit,
)}"""


@register(
    "sim_pq_adc_topk_ivf",
    _ivfpq_adc_sql(m=S.PQ_M, limit=10),
)
def sim_pq_adc_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (IVFADC — Jégou et al. 2011 §IV, the FAISS
    billion-scale layout): coarse cell pruning composed with
    compressed-domain ADC. Each query ranks only the PQ code words in
    its nprobe probed cells, by per-subspace distance-table lookup —
    RESIDUAL-coded (``v - centroid(cell)``) with trained codebooks
    against a TRAINED coarse quantizer (integer-exact k-means —
    kmeans-tight cells are what make residuals small and codes sharp;
    docs/ANN_EVAL.md measures the hash-seeded alternative losing half
    its recall). Served from v1 of the PQ rebalance store
    (``_ivfpq_rebalanced_index_path``, the full-corpus build; v2 is its
    rebalance): code lists plus both quantizers inside one atomically
    published manifest. The scan plans only the probed cells' files of
    an already-~32x-compressed table, and no raw corpus vector is ever
    touched. Distances are bit-identical to the DuckDB-restated
    training + encode + ADC chain (fixed re-association order); recall
    measured by ``sim_ivfpq_recall_at_k``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _shared_query(
        spark, sf_dir, "sim_pq_adc_topk_ivf",
        lambda: IV.pq_adc_topk_ivfpq_versioned(
            spark,
            emb,
            _ivfpq_rebalanced_index_path(spark, sf_dir),
            _TOPK_QUERY_IDS,
            topk=10,
            version=1,
        ),
    )


def _ivf_versioned_delete_topk_sql() -> str:
    """Restatement of the versioned tier's copy-on-write DELETE
    (operators/ivf_versioned.py:delete_ivf_index_versioned) composed
    into a serve query. Semantics: the index is BUILT on the full
    corpus (hash-seeded centroids over every vector — deleting rows
    never moves a centroid), then the victims — query 0's top-3
    neighbors per the PRE-delete IVF serve itself, a deterministic
    data-derived set that guarantees the delete visibly changes the
    answer (exact-cosine neighbors may live outside the probed cells;
    the index's own answers never do) — are removed from the lists, so
    they vanish from CANDIDATES while seeds, assignments and probes
    still derive from the full corpus."""
    return f"""
WITH victims AS (
  SELECT neighbor_id FROM ({ORACLE_SQL["sim_cosine_topk_ivf"]})
  WHERE query_id = 0 AND rank <= 3
),{_ivf_cells_ctes(history_split=False)},
probes AS (SELECT vec_id AS query_id, embedding AS qv, cid AS pcell FROM assign
           WHERE vec_id IN ({_TOPK_IDS_SQL})
             AND rn <= {S.IVF_NPROBE}),
scored AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                  {_cos_sql('p.qv', 'c.embedding')} AS cosine
           FROM probes p JOIN cells c ON c.cell = p.pcell AND c.vec_id <> p.query_id
           WHERE c.vec_id NOT IN (SELECT neighbor_id FROM victims)),
{_COSINE_TOP10_SQL}
"""


#: The history-trained IVF-PQ head (CTEs, no leading WITH): coarse
#: k-means trained on the oldest-70% slice ``hist`` and frozen
#: (``tcents``), then EVERY row quantized (``allq``) and assigned to its
#: nearest frozen centroid by exact integer L2 (``icells``) — the state
#: a build on the history plus an ingest of the batch leaves behind.
_IVFPQ_HIST_CELLS_CTES = f"""
{_split_cte("embeddings", "vec_id")},
hist AS (SELECT vec_id, embedding FROM embeddings
         WHERE vec_id < (SELECT s FROM split)),
{_km_ctes(k=S.IVF_CELLS, iters=S.PQ_ITERS, dim=64, table="hist")},
tcents AS (SELECT cid, cq FROM c{S.PQ_ITERS}),
allq AS (SELECT vec_id,
                [CAST(ROUND(x * {_PQ_SCALE}) AS BIGINT) for x in embedding] AS q
         FROM embeddings),
icells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_sum([(e.q[j] - c.cq[j]) * (e.q[j] - c.cq[j])
                            for j in generate_series(1, 64)]) AS BIGINT),
             c.cid) AS rn
    FROM allq e CROSS JOIN tcents c)
  WHERE rn = 1)"""


def _ivfpq_versioned_sql(*, history_split: bool) -> str:
    """Parameterized restatement of the versioned IVF-PQ tier's
    maintenance compositions, ending in the served top-10 rows.

    The shared chain: trained coarse k-means cells -> every row
    assigned under the FROZEN centroids -> split decision over cell
    populations (>115% of the uniform share) -> two hash-picked child
    seeds per oversized cell (child centroid = the seed member's
    embedding on the QUANT_SCALE grid, child id = vec_id + 2^32) ->
    members re-pointed to the nearer child by exact integer L2 ->
    moved rows RE-ENCODED against their child centroid under the
    FROZEN books (unmoved rows keep their original codes) -> IVFADC
    probes ranked against the POST-split centroid set.

    ``history_split=False`` trains both quantizers on the full corpus
    (the build-then-rebalance composition); ``True`` trains them on
    the oldest-70% slice only and assigns/encodes every row under
    those frozen artifacts first (the build -> ingest -> rebalance
    lifecycle: exactly the ingest oracle's frozen-artifact
    restatement, then the split on the merged population)."""
    m = S.PQ_M
    dsub = 64 // m
    mq = (
        f"[CAST(ROUND(CAST(t.rv[_m.m*{dsub}+j] AS DOUBLE) * {_PQ_SCALE})"
        f" AS BIGINT) for j in generate_series(1, {dsub})]"
    )
    if history_split:
        head = f"""
WITH {_IVFPQ_HIST_CELLS_CTES},"""
    else:
        head = f"""
WITH {_km_ctes(k=S.IVF_CELLS, iters=S.PQ_ITERS, dim=64)},
tcents AS (SELECT cid, cq FROM c{S.PQ_ITERS}),
allq AS (SELECT vec_id, q FROM emb),
icells AS (SELECT vec_id, cluster AS cell FROM afin),"""
    return f"""{head}{_ivf_oversized_ctes("icells")},
chseeds AS (
  SELECT cell AS parent,
         vec_id + {IV.IVFPQ_CHILD_ID_BASE} AS cid, q AS cq FROM (
    SELECT c.cell, c.vec_id, e.q,
           ROW_NUMBER() OVER (PARTITION BY c.cell ORDER BY
             {_SPLIT_RANK_SQL},
             c.vec_id) AS rn
    FROM icells c JOIN oversized o ON o.cell = c.cell
    JOIN allq e ON e.vec_id = c.vec_id)
  WHERE rn <= 2
),
moved AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT mm.vec_id, s.cid,
           ROW_NUMBER() OVER (PARTITION BY mm.vec_id ORDER BY
             CAST(list_sum([(mm.q[j] - s.cq[j]) * (mm.q[j] - s.cq[j])
                            for j in generate_series(1, 64)]) AS BIGINT),
             s.cid ASC) AS rn
    FROM (SELECT c.vec_id, c.cell, e.q
          FROM icells c JOIN oversized o ON o.cell = c.cell
          JOIN allq e ON e.vec_id = c.vec_id) mm
    JOIN chseeds s ON s.parent = mm.cell)
  WHERE rn = 1
),
cells2 AS (
  SELECT vec_id, cell FROM icells
  WHERE cell NOT IN (SELECT cell FROM oversized)
  UNION ALL
  SELECT vec_id, cell FROM moved
),
cents2 AS (
  SELECT cid, cq FROM tcents WHERE cid NOT IN (SELECT cell FROM oversized)
  UNION ALL
  SELECT cid, cq FROM chseeds
),
{_pqr_codes_ctes(history_split=history_split)},
movedresid AS (
  SELECT mv.vec_id,
         [CAST(e2.embedding[i] AS DOUBLE) - CAST(s.cq[i] AS DOUBLE) / {_PQ_SCALE}
          for i in generate_series(1, 64)] AS rv
  FROM moved mv
  JOIN embeddings e2 ON e2.vec_id = mv.vec_id
  JOIN chseeds s ON s.cid = mv.cell
),
moved_pts AS (SELECT t.vec_id, _m.m, {mq} AS q
              FROM movedresid t CROSS JOIN pqr_subs _m),
moved_codes AS (
  SELECT vec_id, m, cluster AS code FROM (
    SELECT pp.vec_id, pp.m, b.cid AS cluster,
           ROW_NUMBER() OVER (PARTITION BY pp.vec_id, pp.m ORDER BY
             CAST(list_sum([(pp.q[j] - b.cq[j]) * (pp.q[j] - b.cq[j])
                            for j in generate_series(1, {dsub})]) AS BIGINT),
             b.cid) AS rn
    FROM moved_pts pp JOIN pqr_books b ON b.m = pp.m)
  WHERE rn = 1
),
codes2 AS (
  SELECT vec_id, m, code FROM pqr_codes
  WHERE vec_id NOT IN (SELECT vec_id FROM moved)
  UNION ALL
  SELECT vec_id, m, code FROM moved_codes
),
{_ivfadc_tail_sql(queries="allq", cents="cents2", cells="cells2", codes="codes2")}"""


def _ivfpq_rerank_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the RERANK-tier IVF-PQ index: v1 of a
    versioned store like the main index, but a finer M=8 x K=16 grid
    (8-dim subspaces, ~16x payload vs the main tier's ~32x). The M
    sweep in docs/ANN_EVAL.md picked this point: finer subspaces
    sharpen the ADC *shortlist* (rerank recall 780‰ -> 820‰ at equal shortlist)
    while pure-ADC top-k barely moves, so only the rerank tier — whose
    final ranking is exact anyway — pays the 2x code payload."""
    from sressentials_spark.scratch import scratch_dir

    def _build() -> str:
        base = scratch_dir("sressentials_ivfpq_m8_index_")
        IV.build_ivfpq_index_versioned(
            load_table(spark, sf_dir, "embeddings"), base, m=S.PQ_RERANK_M
        )
        return base

    return get_or_build(spark, ("ivfpq_m8_index", sf_dir), _build, tier="disk")


INDEX_BUILDERS["ivfpq_rerank_index_build"] = _ivfpq_rerank_index_path


@register(
    "sim_ivfpq_rerank_topk",
    f"""
WITH sl AS (
  SELECT query_id, neighbor_id FROM (
    {_ivfpq_adc_sql(m=S.PQ_RERANK_M, limit=100)}
  )
),
scored AS (SELECT sl.query_id, sl.neighbor_id,
                  {_cos_sql('q.embedding', 'n.embedding')} AS cosine
           FROM sl JOIN embeddings q ON q.vec_id = sl.query_id
                   JOIN embeddings n ON n.vec_id = sl.neighbor_id),
r AS (SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
""",
)
def sim_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving — THE production pattern: the IVFADC
    compressed-domain scan keeps a 100-candidate shortlist per query
    (no raw vector touched), then ONLY the shortlist is re-ranked by
    exact cosine against the raw vectors (an id-pushdown fetch of
    queries x 100 rows). Served from the rerank-tier M=8 index. The
    r10 knob-response sweep (docs/ANN_EVAL.md) showed shortlist=100 at
    nprobe=4 recovers the probed-cell ceiling EXACTLY (820‰ -> 840‰ —
    every residual miss at shortlist=50 was pure truncation, an exact
    neighbor whose ADC rank fell between 51 and 100), so the shipped
    config pays 2x the raw-vector fetch budget to leave zero recall on
    the table inside the fixed nprobe scan fraction; raw-vector I/O
    stays O(queries x shortlist), a few KB per query at any corpus
    size (operators/similarity.py:pq_adc_rerank_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _shared_query(
        spark, sf_dir, "sim_ivfpq_rerank_topk",
        lambda: S.pq_adc_rerank_topk(
            spark,
            emb,
            _ivfpq_rerank_index_path(spark, sf_dir),
            _TOPK_QUERY_IDS,
            topk=10,
            shortlist=100,
        ),
    )


@register("sim_ivfpq_recall_at_k", _recall_sql(ORACLE_SQL["sim_pq_adc_topk_ivf"]))
def sim_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ quality as a first-class query: recall@10 of the
    cell-pruned compressed-domain search against the exact cosine
    top-k, per query (integer permille). The combined path loses
    recall to BOTH knob sets — cell pruning (cells, nprobe) and
    quantization error (M, K) — so this eval sits alongside the pure
    IVF and pure PQ evals to attribute the loss: ivfpq ≤ min(ivf, pq)
    is the expected envelope at matched settings."""
    return _recall_at_k(
        spark, sf_dir, QUERIES["sim_pq_adc_topk_ivf"](spark, sf_dir)
    )


@register("sim_ivfpq_rerank_recall_at_k", _recall_sql(ORACLE_SQL["sim_ivfpq_rerank_topk"]))
def sim_ivfpq_rerank_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage serving quality as a first-class query: recall@10 of
    the shortlist-then-exact-rerank search against the exact cosine
    top-k, per query (integer permille). This puts the rerank tier's
    headline number (docs/ANN_EVAL.md: 840‰ at sf0.01 on the M=8
    rerank index at shortlist=100 — the nprobe-4 probed-cell ceiling,
    reached exactly; vs 400‰ pure IVFADC and 820‰ at the old
    shortlist=50 cut) under the same oracle gate as every other ANN
    eval — any residual gap to the ceiling would be shortlist
    truncation, and at this config it is zero, so what remains is the
    nprobe knob (4 -> 6 moves the ceiling itself to 900‰)."""
    return _recall_at_k(
        spark, sf_dir, QUERIES["sim_ivfpq_rerank_topk"](spark, sf_dir)
    )


# Restatement: BOTH quantizers trained on the HISTORY slice only
# (coarse k-means over hist; residual codebooks sampled from history
# residuals), then every vector — history and ingested batch alike —
# assigned and residual-encoded under those frozen artifacts, IVFADC
# scoring as in the full-corpus IVF-PQ oracle.
_IVFPQ_INGEST_TOPK_SQL = f"""
WITH {_IVFPQ_HIST_CELLS_CTES},
{_pqr_codes_ctes(history_split=True)},
{_ivfadc_tail_sql(queries="allq", cents="tcents", cells="icells", codes="pqr_codes")}"""


@register("sim_ivfpq_index_ingest", _recall_sql(_IVFPQ_INGEST_TOPK_SQL))
def sim_ivfpq_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ index maintenance — completing the trained
    compressed index's lifecycle under the oracle gate the plain-IVF
    stack already has (``sim_ivf_index_ingest``): the first 70% of the
    corpus (by vec_id) trains and builds an IVF-PQ index (coarse
    quantizer + residual codebooks frozen at build time) that migrates
    into the versioned PQ lifecycle store (import, v1); the newest 30%
    arrives as an ingest batch, is encoded under those FROZEN
    artifacts and committed as one version
    (:func:`ivf_versioned.ingest_index_versioned` — one assign +
    encode pass over the batch; no v1 file is rewritten and the
    quantizers stay frozen, pinned in tests/test_ivf_versioned.py).
    Served as a TIME-TRAVEL read of v2 while the rebalance (v3) and
    refresh (v4) commits are live. Returns recall@10 against the exact
    top-k over the FULL corpus — the quantizer-drift gauge that tells
    an operator when to schedule the periodic retrain-rebuild.
    Per-ingest cost at 100 TB: O(batch), never O(index)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_at_k(
        spark,
        sf_dir,
        IV.pq_adc_topk_ivfpq_versioned(
            spark,
            emb,
            _ivfpq_versioned_lifecycle_path(spark, sf_dir),
            _TOPK_QUERY_IDS,
            topk=10,
            version=2,
        ),
    )


@register(
    "maintenance_ivfpq_refresh_decision",
    None,  # composed oracle appended below
)
def maintenance_ivfpq_refresh_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-refresh POLICY as a first-class query — the r9
    verdict's drift-mitigation ask: the 70/30 build-then-ingest IVF-PQ
    index's recall gap (340‰ post-ingest vs 400‰ rebuild,
    ``sim_ivfpq_index_ingest``) wants a TRIGGER, not a timer. This
    query computes the drift gauge over the persisted index's actual
    stored codes: mean integer quantization error of the ingested rows
    (encoded under artifacts trained before they existed) vs the
    history rows the artifacts were trained on, as an exact permille
    ratio, and emits the decision the way
    ``cbo_join_events_orders_rollup`` emits its join strategy — the
    policy output IS a gated column (measured: ~1237‰, i.e. ingested
    rows sit 24% farther from their codewords than the training
    slice's noise floor, over the 1050‰ threshold
    IV.IVFPQ_REFRESH_DRIFT_PERMILLE -> 'refresh'; the versioned tier's
    refresh verb then makes the quantizer swap crash-atomic,
    tests/test_ivf_versioned.py). The gauge reads the versioned PQ
    lifecycle store at v2 — the build-then-ingest state, before the
    rebalance re-encodes moved rows — through
    :func:`ivf_versioned.ivfpq_refresh_decision`. Errors are exact
    int64 per row (operators/similarity.py:ivfpq_quantization_error —
    broadcast code lookup, native zip_with/aggregate, one pass over
    the ~32x-compressed lists); the four aggregates are a bounded
    one-row collect and the ratio is arbitrary-precision integer
    arithmetic, restated HUGEINT-exact by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return IV.ivfpq_refresh_decision(
        spark,
        emb,
        _ivfpq_versioned_lifecycle_path(spark, sf_dir),
        history_split(emb, "vec_id"),
        version=2,
    )


# Restatement: same history-trained frozen artifacts as the ingest
# oracle (coarse k-means over hist; codebooks trained on history
# residuals; codes over every row), then each row's integer L2 error
# to its chosen codeword, aggregated into the exact HUGEINT permille
# ratio and the thresholded decision.
ORACLE_SQL["maintenance_ivfpq_refresh_decision"] = f"""
WITH {_IVFPQ_HIST_CELLS_CTES},
{_pqr_codes_ctes(history_split=True)},
qerr AS (
  SELECT a.vec_id,
         CAST(SUM(CAST(list_sum([(a.q[j] - b.cq[j]) * (a.q[j] - b.cq[j])
                        for j in generate_series(1, {64 // S.PQ_M})]) AS BIGINT))
           AS BIGINT) AS q_err
  FROM pqr_all a
  JOIN pqr_codes c ON c.vec_id = a.vec_id AND c.m = a.m
  JOIN pqr_books b ON b.m = a.m AND b.cid = c.code
  GROUP BY a.vec_id),
agg AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE vec_id < (SELECT s FROM split)) AS BIGINT) AS hist_n,
    CAST(COUNT(*) FILTER (WHERE vec_id >= (SELECT s FROM split)) AS BIGINT) AS batch_n,
    CAST(SUM(q_err) FILTER (WHERE vec_id < (SELECT s FROM split)) AS BIGINT) AS hist_err,
    CAST(SUM(q_err) FILTER (WHERE vec_id >= (SELECT s FROM split)) AS BIGINT) AS batch_err
  FROM qerr),
drift AS (
  SELECT hist_n, batch_n, hist_err, batch_err,
         CAST(CAST(1000 AS HUGEINT) * batch_err * hist_n
              // (CAST(hist_err AS HUGEINT) * batch_n) AS BIGINT)
           AS drift_permille
  FROM agg)
SELECT hist_n, batch_n, hist_err, batch_err, drift_permille,
       CASE WHEN drift_permille > {IV.IVFPQ_REFRESH_DRIFT_PERMILLE}
            THEN 'refresh' ELSE 'keep' END AS decision
FROM drift
"""


def _ivf_versioned_delete_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the DELETE-serve fixture: the versioned
    cosine-IVF index built on the FULL corpus (v1), then query 0's
    top-3 IVF-served neighbors removed by the copy-on-write delete
    verb (v2). The victims are the pre-delete serve's OWN answers —
    a deterministic data-derived set that guarantees the delete
    visibly changes the served result (exact-cosine victims could
    fall outside the probed cells and make the delete invisible).
    Own store: the shared lifecycle fixture serves its latest version
    and must never be mutated by another query's verb."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _build() -> str:
        from sressentials_spark.scratch import scratch_dir

        base = scratch_dir("sressentials_ivf_versioned_del_")
        IV.build_ivf_index_versioned(emb, base)
        pre = IV.cosine_topk_ivf_versioned(
            spark, base, _TOPK_QUERY_IDS, k=10, query_src=emb
        )
        victims = [
            int(r["neighbor_id"])
            for r in pre.filter(
                (F.col("query_id") == 0) & (F.col("rank") <= 3)
            ).collect()
        ]
        if len(victims) != 3:
            raise ValueError(f"expected 3 victims, got {victims}")
        out = IV.delete_ivf_index_versioned(spark, base, victims)
        if out["deleted_rows"] != 3 or out["version"] != 2:
            raise ValueError(f"delete fixture went wrong: {out}")
        return base

    return get_or_build(
        spark, ("ivf_versioned_delete_index", sf_dir), _build, tier="disk"
    )


INDEX_BUILDERS["ivf_versioned_delete_index_build"] = _ivf_versioned_delete_index_path


@register("sim_ivf_versioned_delete_topk", _ivf_versioned_delete_topk_sql())
def sim_ivf_versioned_delete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served AFTER the crash-atomic copy-on-write DELETE —
    the right-to-be-forgotten verb under the oracle gate (the one
    table-format verb a compliance story cannot ship on model tests
    alone): the versioned index is built on the full corpus, query 0's
    pre-delete top-3 neighbors are removed
    (operators/ivf_versioned.py:delete_ivf_index_versioned — only the
    victim-bearing files rewritten, located driver-side via the
    manifest's per-file id min/max stats; every other file
    byte-untouched), and serving from the post-delete version must
    match the relational restatement: victims excluded from CANDIDATES
    only, while seeds, assignments and probes still derive from the
    full corpus (deleting rows never moves a centroid — quality drift
    is the refresh gauge's business). The crash/vacuum semantics are
    model-tested in tests/test_ivf_versioned.py; this query pins the
    VALUES the post-delete commit serves."""
    return _ivf_versioned_topk(spark, sf_dir, _ivf_versioned_delete_index_path)


def _ivfpq_rebalanced_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the PQ-tier REBALANCE fixture: the
    full-corpus IVF-PQ build as v1, then the crash-atomic rebalance
    splits every oversized cell and re-encodes the moved members under
    the FROZEN books (v2). ``sim_pq_adc_topk_ivf`` and
    ``streaming_ivfpq_topk_serving`` serve its v1, so the index-build
    phase trains the main-tier quantizers once."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _build() -> str:
        from sressentials_spark.scratch import scratch_dir

        base = scratch_dir("sressentials_ivfpq_rebal_")
        IV.build_ivfpq_index_versioned(emb, base)
        stats = IV.rebalance_index_versioned(spark, base, emb)
        if stats["cells_split"] < 1:
            raise ValueError(f"fixture produced no oversized cell: {stats}")
        if manifest_versions(base) != [1, 2]:
            raise ValueError(
                f"rebalance must commit v2: {manifest_versions(base)}"
            )
        return base

    return get_or_build(spark, ("ivfpq_rebalanced_index", sf_dir), _build, tier="disk")


INDEX_BUILDERS["ivfpq_rebalanced_index_build"] = _ivfpq_rebalanced_index_path


@register("sim_ivfpq_rebalance_recall", _recall_sql(_ivfpq_versioned_sql(history_split=False)))
def sim_ivfpq_rebalance_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ tier AFTER the crash-atomic rebalance —
    pinning the measured 400‰ -> 420‰ rebalance gain (docs/ANN_EVAL.md)
    under the oracle gate: oversized cells split into two hash-picked
    child seeds, members re-pointed by exact integer L2 and RE-ENCODED
    against the child centroid under the FROZEN codebooks (a cell
    split moves the residual basis but never retrains the global
    subspace books — that is the refresh verb's job), probes ranked
    against the post-split centroid set. The DuckDB restatement
    recomputes the whole chain — train, assign, split decision, child
    seeds, re-point, re-encode, IVFADC serve, recall join — in exact
    integer arithmetic (catalog._ivfpq_versioned_sql)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivfpq_rebalanced_index_path(spark, sf_dir)
    return _recall_at_k(
        spark,
        sf_dir,
        IV.pq_adc_topk_ivfpq_versioned(spark, emb, path, _TOPK_QUERY_IDS, topk=10),
    )


def _ivfpq_versioned_lifecycle_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the FULL versioned-PQ lifecycle, all four
    maintenance verbs composed on ONE store: the index is trained and
    built on the oldest 70% (BUILD, v1), the newest 30% INGESTs under
    the frozen artifacts (v2), the merged population REBALANCEs (v3 —
    oversized cells split, moved members re-encoded under frozen
    books), and the drift-scheduled REFRESH
    retrains both quantizers on the full corpus and re-encodes
    everything (v4). Two queries serve from it at different versions —
    the time-travel read IS a versioned-tier capability:
    ``sim_ivfpq_versioned_lifecycle_topk`` pins v3,
    ``maintenance_ivfpq_refresh_serve_topk`` serves the latest (v4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = history_split(emb, "vec_id")

    def _build() -> str:
        from sressentials_spark.scratch import scratch_dir

        base = scratch_dir("sressentials_ivfpq_lifecycle_")
        IV.build_ivfpq_index_versioned(
            emb.filter(F.col("vec_id") < split), base
        )
        IV.ingest_index_versioned(
            emb.filter(F.col("vec_id") >= split), base
        )
        stats = IV.rebalance_index_versioned(spark, base, emb)
        if stats["cells_split"] < 1:
            raise ValueError(f"fixture produced no oversized cell: {stats}")
        IV.refresh_ivfpq_index_versioned(emb, base)
        if manifest_versions(base) != [1, 2, 3, 4]:
            raise ValueError(
                f"lifecycle must commit 4 versions: {manifest_versions(base)}"
            )
        return base

    return get_or_build(
        spark, ("ivfpq_versioned_lifecycle", sf_dir, split), _build, tier="disk"
    )


INDEX_BUILDERS["ivfpq_lifecycle_index_build"] = _ivfpq_versioned_lifecycle_path


@register(
    "sim_ivfpq_versioned_lifecycle_topk",
    _ivfpq_versioned_sql(history_split=True),
)
def sim_ivfpq_versioned_lifecycle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC serving after the versioned-PQ MAINTENANCE TRIAD —
    build (trained and encoded on the oldest 70%) ->
    ingest (newest 30% encoded under the frozen artifacts) ->
    rebalance (merged population, oversized cells split, moved rows
    re-encoded under frozen books) — the query that proves the verbs
    COMPOSE: one DuckDB restatement recomputes all three steps chained
    and must match the served rows cell-for-cell. Served as a
    TIME-TRAVEL read of v3 while v4 (the refresh) is live — the
    pinned-version read path that lets a serving fleet roll forward /
    back between maintenance commits without copying an index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return IV.pq_adc_topk_ivfpq_versioned(
        spark,
        emb,
        _ivfpq_versioned_lifecycle_path(spark, sf_dir),
        _TOPK_QUERY_IDS,
        topk=10,
        version=3,
    )


@register(
    "maintenance_ivfpq_refresh_serve_topk",
    None,  # shares sim_pq_adc_topk_ivf's oracle verbatim (set below)
)
def maintenance_ivfpq_refresh_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REFRESH verb end-to-end — the action the drift gauge
    (``maintenance_ivfpq_refresh_decision``, measured ~1237‰ > 1050
    threshold -> 'refresh') schedules: on the lifecycle store whose
    artifacts were trained on the oldest 70% and then ingested/
    rebalanced past their training distribution,
    ``refresh_ivfpq_index_versioned`` retrains BOTH quantizers on the
    current corpus, re-encodes every row, and publishes lists + coarse
    + books as ONE crash-atomic manifest version. Serving from the
    refreshed latest must equal the from-scratch full-corpus build
    exactly — refresh is pinned bit-equal to a rebuild
    (tests/test_ivf_versioned.py) — so this query SHARES
    ``sim_pq_adc_topk_ivf``'s oracle verbatim: the strongest possible
    statement that the maintenance verb leaves zero residue of the
    stale artifacts it replaced."""
    emb = load_table(spark, sf_dir, "embeddings")
    return IV.pq_adc_topk_ivfpq_versioned(
        spark,
        emb,
        _ivfpq_versioned_lifecycle_path(spark, sf_dir),
        _TOPK_QUERY_IDS,
        topk=10,
    )


ORACLE_SQL["maintenance_ivfpq_refresh_serve_topk"] = ORACLE_SQL["sim_pq_adc_topk_ivf"]


def _streamed_ivf_ingest_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once handle for the EXACTLY-ONCE streaming ANN ingest
    fixture (streaming/ann_ingest.py): v1 built on the oldest 70%,
    then the newest 30% staged as three arrival files and replayed
    through Structured Streaming ``foreachBatch`` (one file per
    trigger) — each micro-batch commits ONE manifest version carrying
    its ``stream_batch_id`` stamp in the same atomic publish as the
    rows. The builder then REDELIVERS the whole stream (fresh
    checkpoint, same files) and asserts nothing commits — the
    transactional-sink recipe's end-to-end warranty, inside the
    fixture so the registered query serves a state that provably
    survived redelivery."""
    emb = load_table(spark, sf_dir, "embeddings")
    split = history_split(emb, "vec_id")

    def _build() -> str:
        from sressentials_spark.scratch import scratch_dir
        from sressentials_spark.streaming import ann_ingest as AI
        from sressentials_spark.streaming import stage_arrivals

        # v1 keeps the arrivals' columns: a store whose commits write
        # different columns reads back with the schema of whichever file
        # the scan samples, so its plan would change from run to run.
        rows = emb.select("vec_id", "embedding")
        stage = stage_arrivals(rows.filter(F.col("vec_id") >= split), 3, "vec_id")
        arrivals = f"{stage}/arrivals"
        base = scratch_dir("sressentials_ivf_streamed_")
        IV.build_ivf_index_versioned(rows.filter(F.col("vec_id") < split), base)
        AI.run_versioned_ingest_stream(spark, arrivals, base)
        if AI.committed_stream_batch(base) < 0:
            raise ValueError("stream committed no stamped version")
        versions = manifest_versions(base)
        # A fresh checkpoint over the same files re-delivers the stream.
        AI.run_versioned_ingest_stream(spark, arrivals, base)
        if manifest_versions(base) != versions:
            raise ValueError("redelivered stream committed new versions")
        return base

    return get_or_build(
        spark, ("ivf_streamed_ingest", sf_dir, split), _build, tier="disk"
    )


INDEX_BUILDERS["ivf_streamed_ingest_build"] = _streamed_ivf_ingest_path


@register("streaming_ann_ingest_recall", ORACLE_SQL["sim_ivf_index_ingest"])
def streaming_ann_ingest_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 served from the STREAM-MAINTAINED versioned index —
    the online index-maintenance tier under the oracle gate: arrival
    batches flow through ``foreachBatch`` into exactly-once versioned
    ingest (the ``stream_batch_id`` stamp and the rows land in ONE
    atomic manifest publish, so a redelivered micro-batch — replayed
    wholesale by the fixture — commits nothing). Frozen-centroid
    encoding is batch-invariant, so the streamed store's final state
    is bit-equal to the one-shot build-then-ingest over the same rows
    (pinned row-for-row in tests/test_streaming_ann_ingest.py) and
    this query SHARES ``sim_ivf_index_ingest``'s oracle verbatim —
    one oracle gates the one-shot ingest (served as a time-travel read
    of the lifecycle store's v2) and the streaming twin."""
    return _recall_at_k(
        spark, sf_dir, _ivf_versioned_topk(spark, sf_dir, _streamed_ivf_ingest_path)
    )


@register(
    "jsonl_documents_source",
    f"""
SELECT doc_id, lang, md5(text) AS text_md5
FROM documents WHERE doc_id % {loggen.JSONL_BROKEN_EVERY} <> 0
""",
)
def jsonl_documents_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines corpus ingestion end-to-end: the corpus is rendered
    to a JSONL file (with a deterministic malformed line every 97th
    doc), scanned back PERMISSIVE against an explicit schema, the
    corrupt channel split off, and the surviving rows checked against
    the parquet ground truth — the schema-on-read connector pattern
    for text-delivered corpora (no ``inferSchema`` double scan; bad
    lines route to diagnostics instead of failing the job)."""
    from sressentials_spark.sources.jsonl import split_documents_jsonl

    path = loggen.ensure_documents_jsonl(sf_dir)
    good, _bad = split_documents_jsonl(spark, path)
    return good.select(
        "doc_id", "lang", F.md5(F.col("text").cast("binary")).alias("text_md5")
    )


@register(
    "csv_documents_source",
    f"""
SELECT doc_id, lang, n_chars, md5(text) AS text_md5
FROM documents WHERE doc_id % {loggen.CSV_BROKEN_EVERY} <> 0
""",
)
def csv_documents_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV corpus ingestion end-to-end (format breadth beside the
    JSONL connector): the corpus is rendered to a headerless RFC-4180
    CSV (a deterministically malformed row every 89th doc), scanned
    back as text + one typed ``from_csv`` per line (PERMISSIVE,
    explicit schema — no ``inferSchema`` double scan), the corrupt
    channel split off, and the surviving rows checked field-for-field
    against the parquet ground truth. One record per line on purpose:
    multiLine CSV serializes a file through a single reader at
    scale."""
    from sressentials_spark.sources.csv_source import split_documents_csv

    path = loggen.ensure_documents_csv(sf_dir)
    good, _bad = split_documents_csv(spark, path)
    return good.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


@register(
    "csv_documents_multiline_source",
    f"""
SELECT doc_id, lang, n_chars,
       md5(CASE WHEN doc_id % {loggen.CSV_MULTILINE_EVERY} = 0
                THEN replace(text, ' ', chr(10)) ELSE text END) AS text_md5
FROM documents
""",
)
def csv_documents_multiline_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quoted-embedded-newline CSV variant: every 7th doc's text is
    rendered with REAL newlines inside its quoted field (a line-based
    reader would shred those records) and read back through the
    ``multiLine`` CSV path, whose documented cost is one reader task
    per file — the selectable trade-off beside the default line-based
    connector. Round-trip is checked field-for-field against the
    parquet ground truth with the newline substitution restated in the
    oracle."""
    from sressentials_spark.sources.csv_source import (
        read_documents_csv_multiline,
    )

    path = loggen.ensure_documents_csv_multiline(sf_dir)
    return read_documents_csv_multiline(spark, path).select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


def _pagerank_oracle(iterations: int = 3) -> str:
    rounds = []
    prev = "r0"
    for i in range(1, iterations + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT e.t AS node,
         CAST(150 + (850 * SUM({prev}.pr // deg.outdeg)) // 1000 AS BIGINT)
           AS pr
  FROM e JOIN {prev} ON e.s = {prev}.node JOIN deg ON e.s = deg.s
  GROUP BY e.t
)"""
        )
        prev = f"r{i}"
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
e AS (SELECT pa AS s, pb AS t FROM pairs
      UNION ALL SELECT pb, pa FROM pairs),
deg AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s),
r0 AS (SELECT s AS node, CAST(1000 AS BIGINT) AS pr FROM deg),
{', '.join(rounds)}
SELECT node, pr FROM {prev}
"""


@register("graph_pagerank_copurchase", _pagerank_oracle(3))
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph algorithm tier: 3 rounds of integer-arithmetic
    PageRank over the co-purchase graph (parts linked when bought
    together in ≥ 2 orders). Integer milli-ranks make an inherently
    iterative float algorithm oracle-verifiable — integer sums are
    order-independent where float accumulation is not. Each round is
    one node-keyed equi-join + map-side-combinable sum; the oracle
    unrolls the same three rounds as chained CTEs."""
    pairs = _copurchase_pairs(spark, sf_dir).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    return P.pagerank_integer(edges, iterations=3)


@register(
    "cdc_upsert_documents",
    """
WITH snapshot AS (
  SELECT doc_id, text, CAST(1 AS BIGINT) AS version FROM documents
),
updates AS (
  SELECT doc_id, upper(text) AS text, CAST(2 AS BIGINT) AS version
  FROM documents WHERE doc_id % 7 = 0
),
unioned AS (SELECT * FROM snapshot UNION ALL SELECT * FROM updates),
ranked AS (
  SELECT doc_id, text, version,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY version DESC, doc_id) AS rn
  FROM unioned
)
SELECT doc_id, version, md5(text) AS text_md5
FROM ranked WHERE rn = 1
""",
)
def cdc_upsert_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge / compaction: apply an updates batch to a snapshot
    with latest-version-wins semantics (here the updates batch is a
    deterministic slice of the corpus re-emitted at version 2). The
    dedup-by-recency window keys on the uniform document id, so the
    merge is one shuffle regardless of snapshot size — the same shape
    a MERGE INTO compiles to on a lakehouse table, minus the
    transactional commit."""
    docs = load_table(spark, sf_dir, "documents")
    snapshot = docs.select(
        "doc_id", "text", F.lit(1).cast("long").alias("version")
    )
    updates = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.upper("text").alias("text"),
                F.lit(2).cast("long").alias("version"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("version").desc(), F.col("doc_id")
    )
    return (
        snapshot.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "version",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
        )
    )


@register(
    "copurchase_part_pairs",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= 2
""",
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in at
    least two orders. The self-join keys on ``l_orderkey`` (uniform,
    co-partitioned — ONE shuffle feeds both sides) and its fan-out is
    bounded by items-per-order choose 2 (≤ ~80 here), so unlike a
    part-keyed join this shape stays linear in order count at 100 TB;
    the pair groupBy keys on the uniform (part, part) composite."""
    return _copurchase_pairs(spark, sf_dir)


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edge list ``(part_a, part_b, n_orders)``,
    session-cached: three catalog queries consume it (the pairs query
    itself, PageRank, triangle counting), so a multi-query session
    materializes the basket self-join ONCE via the shared artifact
    registry (released by ``artifacts.release_persisted``)."""

    def build() -> DataFrame:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        a, b = li.alias("a"), li.alias("b")
        return tracked_persist(
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("part_a"),
                F.col("b.l_partkey").alias("part_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .filter(F.col("n_orders") >= 2)
        )

    return get_or_build(spark, ("copurchase_pairs", sf_dir), build)


@register(
    "events_funnel_view_click_purchase",
    """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.v_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_view_click_purchase
""",
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who viewed, then clicked strictly
    after their first view, then purchased strictly after that click.

    Three per-user conditional ``min(ts)`` stages, each a map-side-
    combinable agg + an equi-join on ``user_id`` (uniform key) — the
    relational funnel shape that scales, instead of a per-user sort or
    ``collect_list`` of event sequences through a window."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@register(
    "events_retention_cohorts",
    """
WITH f AS (
  -- day-truncated TIMESTAMP (not DATE): both engines hand the
  -- comparator a timestamp dtype, where DATE round-trips differently
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
SELECT cohort_day,
       CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT CASE WHEN a.d = cohort_day + INTERVAL 1 DAY
                                THEN f.user_id END) AS BIGINT) AS retained_d1,
       CAST(COUNT(DISTINCT CASE WHEN a.d = cohort_day + INTERVAL 7 DAY
                                THEN f.user_id END) AS BIGINT) AS retained_d7
FROM f JOIN a ON f.user_id = a.user_id
GROUP BY cohort_day
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily signup-cohort retention: users grouped by their first
    active day, with day-1 and day-7 return counts.

    Both heavy stages key on ``user_id`` (first-day agg, activity
    distinct, and the join); only the already-reduced per-user rows
    reach the small cohort-date groupBy — the shape that holds when
    users number in the billions but cohort dates stay in the
    thousands."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    a = e.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    # The (user, day) activity rows are distinct and f has one row per
    # user, so each user contributes at most one row per return-day
    # condition — plain conditional counts equal the COUNT(DISTINCT …)
    # the oracle states, without the Expand (input-row multiplication)
    # that multiple count_distincts compile to.
    ret = (
        f.join(a, "user_id")
        .groupBy("cohort_day")
        .agg(
            F.count(
                F.when(
                    F.col("d") == F.col("cohort_day") + F.expr("INTERVAL 1 DAY"),
                    1,
                )
            ).alias("retained_d1"),
            F.count(
                F.when(
                    F.col("d") == F.col("cohort_day") + F.expr("INTERVAL 7 DAY"),
                    1,
                )
            ).alias("retained_d7"),
        )
    )
    sizes = f.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_users"))
    return sizes.join(ret, "cohort_day").select(
        "cohort_day", "n_users", "retained_d1", "retained_d7"
    )


@register(
    "events_daily_anomalies",
    """
WITH c AS (
  SELECT event_id, event_type, date_trunc('day', ts) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT *,
         COUNT(*) OVER w AS n,
         SUM(cents) OVER w AS s,
         SUM(cents * cents) OVER w AS q
  FROM c
  WINDOW w AS (PARTITION BY event_type, day)
)
SELECT event_id, event_type, day, cents
FROM g
WHERE CAST(n * q - s * s AS BIGINT) > 0
  AND CAST((n * cents - s) * (n * cents - s) AS BIGINT)
      >= CAST(4 * (n * q - s * s) AS BIGINT)
""",
)
def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) z-score outliers — events at least 2 standard
    deviations from their day/type cohort mean — computed ENTIRELY in
    integer arithmetic: values go to cents, and ``|x - mean| >= 2σ``
    is cross-multiplied to ``(n·x - S)² >= 4(nQ - S²)`` so the flag is
    bit-exact against the oracle (float mean/stddev folds differ
    between engines). The window keys on the high-cardinality
    ``(event_type, hour)`` pair; cohort sizes stay small (events/hour/
    type), so the squared terms sit far below int64 at any corpus
    width — the cohort definition, not the corpus, bounds magnitude."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type", "day")
    g = c.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("q"),
    )
    var_n2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    dev = F.col("n") * F.col("cents") - F.col("s")
    return g.filter((var_n2 > 0) & (dev * dev >= 4 * var_n2)).select(
        "event_id", "event_type", "day", "cents"
    )


@register(
    "text_top_terms_per_lang",
    r"""
WITH tf AS (
  SELECT lang, tok, COUNT(*) AS n_docs FROM (
    SELECT doc_id, lang,
           unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
    FROM documents)
  GROUP BY lang, tok
),
r AS (
  SELECT lang, tok, n_docs,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_docs DESC, tok ASC) AS rn
  FROM tf
)
SELECT lang, tok AS term, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 5
""",
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by document frequency (deterministic
    count-desc, term-asc tie-break) — the vocabulary-head report.

    Aggregate-then-rank: the corpus-sized shuffle keys on the uniform
    ``(lang, term)`` pair; the ranking window only sees the already-
    aggregated vocabulary table (bounded by |vocab|·|langs|, not corpus
    rows), which is what keeps a per-``lang`` window partition safe at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    from sressentials_spark.operators.text import tokens as _toks

    tf = (
        docs.select(
            "lang", F.explode(F.array_distinct(_toks("text"))).alias("term")
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_docs").desc(), F.col("term").asc()
    )
    return (
        tf.select(
            "lang",
            "term",
            "n_docs",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 5)
    )


_QUANTIZE_ORACLE = """
WITH b AS (
  SELECT vec_id, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings
)
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS n_dims,
       mn, mx,
       CASE WHEN mx > mn THEN
         array_to_string(list_transform(embedding,
           x -> CAST(CAST(least(255.0,
                  floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn)))
                AS BIGINT) AS VARCHAR)), ',')
       ELSE array_to_string(list_transform(embedding, x -> '0'), ',')
       END AS codes_csv
FROM b
"""


@register("emb_quantize_int8", _QUANTIZE_ORACLE)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min/max scalar quantization of the embedding corpus
    to 8-bit codes (+ the ``(mn, mx)`` dequantization range) — the
    storage-side compression for a 100 TB vector store. One Arrow
    kernel pass (:func:`operators.linalg.quantize_int8_arrow`), no
    shuffle; codes ship as CSV so the oracle compares them bit-for-bit."""
    from sressentials_spark.operators.linalg import quantize_int8_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", quantize_int8_arrow(F.col("embedding")).alias("q")
    ).select("vec_id", "q.n_dims", "q.mn", "q.mx", "q.codes_csv")


# --------------------------------------------------------------------------
# Text analysis tier 2: language-ID, BPE-ish counting, fingerprints
# --------------------------------------------------------------------------

def _lang_id_oracle() -> str:
    from sressentials_spark.operators.text import LANG_PROFILES

    langs = sorted(LANG_PROFILES)
    score_defs = ",\n  ".join(
        "CAST(len(list_filter(tk, x -> x IN ({words}))) AS BIGINT) AS score_{lang}".format(
            words=", ".join(f"'{w}'" for w in LANG_PROFILES[lang]), lang=lang
        )
        for lang in langs
    )
    mx = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    chain = " ".join(f"WHEN score_{lang} = {mx} THEN '{lang}'" for lang in langs)
    return rf"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
s AS (SELECT doc_id,
  {score_defs}
FROM t)
SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)},
       CASE WHEN {mx} = 0 THEN 'und' {chain} END AS predicted_lang
FROM s
"""


@register("text_lang_id", _lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with deterministic argmax."""
    from sressentials_spark.operators.text import lang_id

    return lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_bpe_token_counts",
    r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
""",
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex token counting."""
    from sressentials_spark.operators.text import bpe_token_counts

    return bpe_token_counts(load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprints",
    r"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       list_reduce(
         [CAST(0 AS BIGINT)] ||
         [('0x' || substr(md5(x), 1, 15))::BIGINT % 1000000007 for x in tk],
         (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
FROM t
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprints."""
    from sressentials_spark.operators.text import fingerprints

    return fingerprints(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Multimodal plumbing (Pandas-UDF path with a SQL oracle)
# --------------------------------------------------------------------------

@register(
    "multimodal_features",
    """
SELECT doc_id,
       'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       CAST(list_sum([ascii(substr(text, i, 1))
                      for i in generate_series(1, least(8, length(text)))]) AS BIGINT)
         AS head_sum
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched mapInPandas.

    Parity note: the engine sums the first 8 raw BYTES of the payload
    while the oracle's ``ascii(substr(...))`` counts characters — these
    agree only on ASCII text, which the documents fixture guarantees
    (enforced by ``tests/test_catalog_oracle.py::
    test_documents_fixture_is_ascii``; non-ASCII corpora would need a
    byte-wise oracle instead).
    """
    from sressentials_spark.operators.multimodal import attach_payload, extract_features

    return extract_features(attach_payload(load_table(spark, sf_dir, "documents")))


def _frame_sample_oracle() -> str:
    from sressentials_spark.operators.multimodal import sample_frames_oracle_sql

    return sample_frames_oracle_sql()


def _resize_oracle() -> str:
    from sressentials_spark.operators.multimodal import resize_media_oracle_sql

    return resize_media_oracle_sql()


@register("multimodal_resize", _resize_oracle())
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size payload resize (truncate + pad) via Arrow-batched
    mapInPandas — the byte-level stand-in for an image resample with
    the codec stubbed; hex-md5 of the resized payload is the
    oracle-checkable witness."""
    from sressentials_spark.operators.multimodal import attach_payload, resize_media

    return resize_media(attach_payload(load_table(spark, sf_dir, "documents")))


@register("multimodal_frame_sample", _frame_sample_oracle())
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling over binary payloads: one row per kept
    frame with its byte window and hex-window md5 — sequence+explode in
    whole-stage codegen, no Python, no shuffle. Sampling runs BEFORE
    any (stubbed) codec so only kept frames would pay decode cost."""
    from sressentials_spark.operators.multimodal import attach_payload, sample_frames

    return sample_frames(attach_payload(load_table(spark, sf_dir, "documents")))


# --------------------------------------------------------------------------
# Structured Streaming (availableNow batch-equivalent, oracle-checked)
# --------------------------------------------------------------------------

@register(
    "streaming_slow_rate_hourly",
    f"""
WITH ev AS ({loggen.MONGO_EV}),
s AS (SELECT * FROM ev WHERE {_MONGO_SLOW_FILTER})
SELECT date_trunc('hour', ts) AS window_start,
       {loggen.MONGO_COLLECTION} AS collection,
       COUNT(*) AS n_slow,
       MAX(dur) AS max_duration_ms
FROM s GROUP BY 1, 2
""",
)
def streaming_slow_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window slow-query rate, executed as a Structured
    Streaming query (file source, watermark, availableNow trigger)."""
    from sressentials_spark.streaming.slow_rate import run_slow_rate_batch

    return run_slow_rate_batch(spark, loggen.ensure_mongo_log(sf_dir))


# --------------------------------------------------------------------------
# Relational coverage: rollup, set operations, pivot
# --------------------------------------------------------------------------

@register(
    "rollup_orders_status_priority",
    """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
)
def rollup_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (subtotals + grand total)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _ssum(F.col("o_totalprice"), 100).alias("total_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "setop_purchasers_with_errors",
    """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
""",
)
def setop_purchasers_with_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of two derived user sets."""
    e = load_table(spark, sf_dir, "events")
    purchasers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    return purchasers.intersect(erroring)


@register(
    "setop_rich_customer_only_nations",
    """
SELECT DISTINCT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 8000
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000
""",
)
def setop_rich_customer_only_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT between derived nation sets."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    rich_c = c.filter(F.col("c_acctbal") > 8000).select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    rich_s = s.filter(F.col("s_acctbal") > 8000).select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    return rich_c.exceptAll(rich_s.distinct()).distinct()


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_hourly_event_matrix",
    f"""
SELECT date_trunc('hour', ts) AS hour,
       {', '.join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY 1
""",
)
def pivot_hourly_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one column per event type, one row per hour."""
    e = load_table(spark, sf_dir, "events")
    pivoted = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "hour", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


# --------------------------------------------------------------------------
# Event-time operators: sessionization + as-of enrichment
# --------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


#: Shared by the batch window query and its streaming restatement —
#: the two engines must agree on the same relational truth.
_SESSIONIZE_ORACLE = f"""
WITH o AS (
  SELECT event_id, user_id, ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_id, user_id, ts,
       CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
         AS session_id
FROM o
"""


@register("window_sessionize_events", _SESSIONIZE_ORACLE)
def window_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user session ids from 30-min inactivity gaps
    (lag + running sum — the standard two-window composition)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(is_new).over(w).cast("long").alias("session_id"),
    )


@register(
    "asof_last_purchase_before_error",
    """
SELECT e.event_id, e.user_id, e.ts AS error_ts,
       (SELECT max(p.ts) FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
          AND p.ts <= e.ts) AS last_purchase_ts
FROM events e WHERE e.event_type = 'error'
""",
)
def asof_last_purchase_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of association: for every error event, the latest purchase at
    or before it by the same user.

    Spark lacks a native as-of join; this is the standard composition —
    a running ``max`` over an event-time window (RANGE frame, so
    equal-timestamp peers are included exactly like the ``<=``
    predicate). One shuffle on ``user_id``; no join at all, which at
    100 TB beats the union-join formulations by a full pass.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return (
        e.withColumn("last_purchase_ts", F.max(purchase_ts).over(w))
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("error_ts"),
            "last_purchase_ts",
        )
    )


# --------------------------------------------------------------------------
# Training-pipeline tier 2: splits, skew-salted agg, order statistics,
# term ranking, components, streaming dedup
# --------------------------------------------------------------------------

@register(
    "split_train_val_test",
    P.hash_split_oracle_sql("documents", extra_cols=", lang"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 corpus split by id hash — a pure
    projection (no shuffle, no sampling state), stable across runs and
    engines so reprocessing never migrates a document across the
    train/test boundary."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return P.hash_split(docs)


@register(
    "salted_events_rollup",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events GROUP BY event_type
""",
)
def salted_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof rollup of the 5-hot-key events table via two-phase
    salted aggregation: partials per (key, salt-of-event_id) bound
    every reducer at ~1/16 of a hot key, then a tiny second shuffle
    combines key×16 partial rows. Sums are scaled-long (exact,
    order-independent) per the oracle-parity recipe."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    return P.salted_agg(
        e,
        "event_type",
        "event_id",
        {
            "n_events": ("", "count"),
            "sum_value_cents": ("value_cents", "sum"),
            "min_event_id": ("event_id", "min"),
            "max_event_id": ("event_id", "max"),
        },
    )


@register(
    "quantiles_tokens_by_lang",
    P.group_quantiles_oracle_sql(
        "documents",
        "lang",
        r"CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)",
        [0.5, 0.9, 0.99],
    ),
)
def quantiles_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-length quantiles (type-1 order
    statistics — integer positions, no interpolation arithmetic to
    drift between engines). The corpus-curation cutoff query."""
    from sressentials_spark.operators.text import BPE_TOKEN_PATTERN

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN))
        .cast("long")
        .alias("n_bpe"),
    )
    return P.group_quantiles(d, "lang", "n_bpe", [0.5, 0.9, 0.99])


@register("text_distinctive_terms", P.distinctive_terms_oracle_sql(k=3))
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document: tf-idf ordering without
    the logarithm (idf is monotone in df, so (tf DESC, df ASC, term)
    ranks identically and stays transcendental-free for exact parity)."""
    return P.distinctive_terms(load_table(spark, sf_dir, "documents"), k=3)


@register(
    "dedup_components",
    f"""
WITH RECURSIVE pairs AS ({_jaccard_oracle(0.8)}),
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
)
SELECT id AS doc_id, MIN(r) AS canonical_id, (MIN(r) <> id) AS is_dup
FROM reach GROUP BY id
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to per-document canonical assignments
    (transitive closure by iterative min-label propagation — the step
    that turns pair lists into an actionable "keep one per cluster"
    filter). Pairs come from the MinHash-LSH path; the oracle walks the
    same edge set with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    # Pairs via the session-shared frame (_consume_shared): the closure
    # loop's edge persist would otherwise recompute the band join +
    # verification this pass already materialized for the recall eval.
    pairs = _consume_shared(spark, sf_dir, "dedup_minhash_lsh")
    return P.connected_components(docs, pairs)


@register("streaming_sessionize_events", _SESSIONIZE_ORACLE)
def streaming_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a custom stateful streaming operator:
    ``applyInPandasWithState`` keyed on user_id, two longs of state per
    user carried across micro-batches (availableNow replay here; the
    cross-batch hand-off is exercised by the multi-file pytest). Same
    oracle as the batch window query — both engines must agree."""
    from sressentials_spark.streaming.sessionize import run_sessionize_batch

    return run_sessionize_batch(spark, sf_dir)


@register(
    "streaming_silent_users",
    # Gap literal must match streaming/absence.py::SILENCE_GAP_US.
    """
SELECT user_id, ts AS last_ts
FROM (SELECT user_id, ts,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM events)
WHERE nxt IS NULL OR nxt > ts + INTERVAL 7 DAY
""",
)
def streaming_silent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence detection — TIMER-DRIVEN emission, the one streaming
    capability data-driven operators can't express: a user silent for
    more than 7 days emits an alert row carrying their last-seen event
    time, produced by an ``EventTimeTimeout`` firing when the
    WATERMARK passes ``last + gap`` with no new data (in-batch and
    timer-latency gaps are detected input-side; a fired timer clears
    state so no silence ever emits twice). One long of state per
    active user on the uniform user_id key; alerts are O(silence
    periods), never O(events). The oracle restates every maximal
    silence with a single LEAD window, including each user's trailing
    silence (streaming/absence.py::run_absence_batch)."""
    from sressentials_spark.streaming.absence import run_absence_batch

    return run_absence_batch(spark, sf_dir)


#: Session-LEVEL rollup oracle for Spark's native ``session_window``.
#: Boundary semantics: native session windows are ``[start, last+gap]``
#: for merging purposes — an event arriving at EXACTLY ``gap`` after
#: its predecessor still MERGES (adjacent windows coalesce), so a new
#: session starts only when the gap is STRICTLY greater (``>`` below),
#: identical to the custom sessionizer's rule. Pinned empirically by
#: tests/test_streaming_sessionize.py::test_native_session_window_
#: boundary_semantics (the testdata's µs-random timestamps never hit
#: the boundary, so only a constructed case can tell ``>`` from
#: ``>=``).
_SESSION_WINDOW_ORACLE = f"""
WITH o AS (
  SELECT user_id, ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM o
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


@register("session_window_stats", _SESSION_WINDOW_ORACLE)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level rollup via Spark's NATIVE ``session_window``
    (no custom code at all — the declarative twin of the
    ``applyInPandasWithState`` operator): one aggregation keyed on
    (user, merged-session window), emitting each session's start,
    end (last event + gap) and event count. At scale this
    is a single shuffle on the group key with Catalyst's session-merge
    logic JVM-side — prefer it whenever session-LEVEL stats are the
    goal and per-EVENT session ids aren't needed."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register("streaming_session_window_stats", _SESSION_WINDOW_ORACLE)
def streaming_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same native ``session_window`` aggregation run as a
    Structured Streaming query (availableNow replay, complete mode —
    session state lives in the state store and merges across
    micro-batches). Batch, streaming, and the relational oracle must
    agree on every session boundary."""
    from sressentials_spark.streaming.sessionize import (
        run_session_window_batch,
    )

    return run_session_window_batch(spark, sf_dir)


@register("streaming_session_window_append", _SESSION_WINDOW_ORACLE)
def streaming_session_window_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in its PRODUCTION mode: ``append``
    behind a watermark over the staged out-of-order arrival (one file
    per micro-batch), landing on a parquet sink. Each session emits
    exactly once — when the watermark passes its end — and its state is
    evicted immediately, so state size tracks OPEN sessions only; the
    far-future sentinel drains the bounded replay. The complete-mode
    twin (`streaming_session_window_stats`) retains all state for the
    query's lifetime — harness-only; THIS is the shape that survives an
    unbounded stream. Same oracle as the batch and complete-mode
    queries: all three must agree on every session boundary
    (streaming/sessionize.py::run_session_window_append)."""
    from sressentials_spark.streaming.sessionize import (
        run_session_window_append,
    )

    return run_session_window_append(spark, sf_dir)


@register("streaming_sessionize_events_ooo", _SESSIONIZE_ORACLE)
def streaming_sessionize_events_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over an OUT-OF-ORDER arrival: the events table is
    staged as jitter-perturbed arrival files (bounded disorder — a real
    100 TB ingest is never perfectly event-time-ordered), replayed one
    file per micro-batch, and sessionized by the watermark +
    reorder-buffer stateful operator: rows wait in per-user state until
    the watermark passes them, then emit in exact event-time order.
    The strict-ordering variant refuses this input loudly; this one
    matches the batch window oracle exactly because the watermark delay
    exceeds the staged disorder bound (no late drops). Same oracle as
    the batch and in-order streaming queries — all three engines must
    agree."""
    from sressentials_spark.streaming.sessionize import run_sessionize_ooo_batch

    return run_sessionize_ooo_batch(spark, sf_dir)


@register(
    "streaming_hll_distinct_users",
    K.hll_distinct_oracle_sql("events", "user_id"),
)
def streaming_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register stage as a stateful stream (max-per-bucket is a
    streaming-supported agg with exactly m state rows; micro-batch
    partial maxes merging into state IS the sketch-union property),
    folded to the estimate over the settled registers. Same oracle as
    the batch sketch — both execution models must agree bit-for-bit."""
    from sressentials_spark.streaming.sketch import run_sketch_stream

    return run_sketch_stream(spark, sf_dir, *K.hll_sketch("user_id"))


@register(
    "sketch_hll_daily_rollup",
    K.hll_distinct_oracle_sql("events", "user_id"),
)
def sketch_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch union in anger: per-DAY HLL registers (the artifact a
    daily pipeline would persist) merged by elementwise register max
    into the all-time estimate — same oracle as the single-pass
    sketch, because HLL union is exact. This is the 100 TB ingestion
    pattern: each day's job reduces its events to ≤ m register rows;
    history questions fold the tiny register tables, never the raw
    events."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    daily = K.hll_registers(e, "user_id", extra_keys=["day"])
    return K.finish_estimate(K.hll_union(daily))


@register(
    "sketch_histogram_quantiles_value",
    K.histogram_quantiles_oracle_sql("events", "value"),
)
def sketch_histogram_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of the event value via the mergeable fixed-bin
    histogram sketch — counts per bin are map-side combinable and at
    most 1024 rows reach the cumulative window (bounded regardless of
    corpus size; union of two histograms is elementwise ``+``).
    Engine-native ``approx_percentile`` sketches can't be cross-checked
    between engines; this one is bit-exact by construction."""
    return K.histogram_quantiles(load_table(spark, sf_dir, "events"), "value")


_BLOOM_H = (
    "(('0x' || substring(md5('bloom-v1:' || CAST(i AS VARCHAR) || ':' || fp),"
    " 1, 15))::BIGINT) % 65536"
)

_BLOOM_ORACLE = f"""
WITH {_split_cte("documents", "doc_id")},
rows_i AS (SELECT unnest(range(3)) AS i),
hist AS (SELECT md5(text) AS fp FROM documents, split WHERE doc_id < s),
bits AS (SELECT DISTINCT {_BLOOM_H} AS bit FROM hist, rows_i),
newd AS (SELECT doc_id, md5(text) AS fp FROM documents, split WHERE doc_id >= s),
pc AS (SELECT doc_id, {_BLOOM_H} AS bit FROM newd, rows_i)
SELECT doc_id,
       CAST(MIN(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS bloom_maybe
FROM pc LEFT JOIN bits ON pc.bit = bits.bit
GROUP BY doc_id
"""


@register("sketch_bloom_history_membership", _BLOOM_ORACLE)
def sketch_bloom_history_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe: new-batch content fingerprints
    (last 30% of the corpus by id) tested against a filter built over
    the ingested history's fingerprints — the O(1)-bits-per-key
    pre-gate an incremental ingest runs BEFORE the relational
    anti-join, at 100 TB the difference between touching the history
    store for every arriving document and touching it only for bloom
    hits. The filter is a relational set-bit table (≤ m = 65536 rows —
    broadcast), so the probe is a broadcast join + min-fold; a true
    member can never read 0 (pinned by test), a 1 is "maybe" at the
    fill-ratio FP rate."""
    docs = load_table(spark, sf_dir, "documents")
    split = history_split(docs, "doc_id")
    fp = F.md5(F.col("text").cast("binary")).alias("fp")
    hist = docs.filter(F.col("doc_id") < split).select(fp)
    newd = docs.filter(F.col("doc_id") >= split).select("doc_id", fp)
    bits = K.bloom_bits(hist, "fp")
    return K.bloom_probe(bits, newd, "fp").join(
        newd.select("doc_id", "fp"), "fp"
    ).select("doc_id", "bloom_maybe")


#: Probe set for the CMS frequency query: a fixed slate of user ids
#: standing in for the candidate heavy hitters surfaced by a sample.
_CMS_PROBE_USERS = list(range(20))


@register(
    "streaming_cms_user_counts",
    K.cms_probe_oracle_sql("events", "user_id", _CMS_PROBE_USERS),
)
def streaming_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min counter stage as a stateful stream (count-per-
    (row, bucket) is a streaming-supported agg with at most d·w state
    rows; micro-batch partial counts merging into state IS the CMS
    union), probed over the settled counters. Same oracle as the batch
    sketch — both execution models must agree bit-for-bit."""
    from sressentials_spark.streaming.sketch import run_sketch_stream

    return run_sketch_stream(
        spark, sf_dir, *K.cms_probe_sketch("user_id", _CMS_PROBE_USERS)
    )


@register(
    "streaming_histogram_quantiles_value",
    K.histogram_quantiles_oracle_sql("events", "value"),
)
def streaming_histogram_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The histogram bin-count stage as a stateful stream (≤ 1024
    state rows; micro-batch partial counts merging in state is the
    histogram union), folded to p50/p90/p99 over the settled bins.
    Same oracle as the batch sketch — both execution models must agree
    bit-for-bit."""
    from sressentials_spark.streaming.sketch import run_sketch_stream

    return run_sketch_stream(spark, sf_dir, *K.histogram_sketch("value"))


@register(
    "streaming_exact_dedup",
    "SELECT DISTINCT md5(text) AS content_hash FROM documents",
)
def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a stream: first-seen content hashes over a
    parquet file source (availableNow replay; 32-byte rows through the
    stateful shuffle)."""
    from sressentials_spark.streaming.dedup import run_exact_dedup_batch

    return run_exact_dedup_batch(spark, sf_dir)


@register(
    "streaming_dedup_reingest_watermark",
    "SELECT event_id, user_id, ts, event_type, value FROM events",
)
def streaming_dedup_reingest_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingest dedup with BOUNDED state: the events table
    staged as two ts-ranged arrival files plus a re-delivery file
    duplicating the trailing 2-day window, replayed one file per
    micro-batch through Spark's native ``dropDuplicatesWithinWatermark``
    — each event emits on first delivery, re-deliveries are suppressed
    by per-key state the watermark then EVICTS (state tracks the TTL
    window, not the stream's full key history — the property the
    unbounded-state ``streaming_exact_dedup`` replay lacks and the one
    that matters on an endless 100 TB ingest). Output must equal the
    events table exactly; a late-filtered row raises instead of
    silently vanishing (streaming/dedup.py)."""
    from sressentials_spark.streaming.dedup import (
        run_dedup_within_watermark_batch,
    )

    return run_dedup_within_watermark_batch(spark, sf_dir)


@register(
    "rangejoin_concurrent_events",
    _RJ.time_band_counts_oracle_sql(),
)
def rangejoin_concurrent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: per event, the count of same-type events within
    ±5 minutes — shipped as the bucketized rewrite (band-width bucket
    equi-join + exact re-check) since OSS Spark would otherwise plan a
    nested-loop join for the band predicate. The oracle states the
    naive correlated semantics."""
    return _RJ.time_band_counts(load_table(spark, sf_dir, "events"))


@register(
    "sketch_hll_distinct_users",
    K.hll_distinct_oracle_sql("events", "user_id"),
)
def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog-style distinct-user estimate built from
    deterministic shared primitives, so the sketch itself is
    oracle-verified bit-for-bit (built-in ``approx_count_distinct``
    sketches can't be cross-checked between engines). Map-side
    combinable register max; ≤64 rows through the shuffle; no exact
    ``count_distinct`` in the shipped plan (``with_exact`` stays in
    tests — the sketch exists to avoid that computation), and a
    ``small_range`` flag marks estimates below the 2.5m calibration
    floor where classic HLL would switch to linear counting."""
    return K.hll_distinct(load_table(spark, sf_dir, "events"), "user_id")


@register(
    "sketch_cms_user_counts",
    K.cms_probe_oracle_sql("events", "user_id", _CMS_PROBE_USERS),
)
def sketch_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for a probe slate of users
    over the event stream, with a ``heavy`` (≥7‰ of the stream) flag.

    From-scratch deterministic CMS (d=4 md5-seeded hash rows × w=256
    counters) so the estimate is oracle-verified bit-for-bit. The
    corpus pass is one narrow projection + a map-side-combinable
    ``groupBy(r, c).count()`` whose exchange carries ≤ d·w rows per map
    task; counter merge is elementwise ``+`` (sketch union), so
    per-day/per-shard counters roll up without re-scanning history.
    The probe join runs over the broadcast sketch, and the heavy
    threshold's stream total is read off the same counters, so the
    events are scanned once."""
    return K.cms_probe_counts(
        load_table(spark, sf_dir, "events"), "user_id", _CMS_PROBE_USERS
    )


# --------------------------------------------------------------------------
# Corpus curation (extension tier: redaction, repetition, sampling, packing)
# --------------------------------------------------------------------------


@register(
    "curation_pii_redact",
    C.pii_redact_oracle_sql("SELECT doc_id, text FROM documents"),
)
def curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: email/IPv4/long-number redaction with per-
    category match counts and the redacted payload's md5 — a single
    narrow codegen projection over the corpus (no shuffle, no Python)."""
    return C.pii_redact(load_table(spark, sf_dir, "documents"))


@register("curation_quality_filter", C.quality_filter_oracle_sql())
def curation_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based keep/drop gates (word-count range, mean
    word length, symbol ratio, stopword floor, lexical diversity) with
    per-rule 0/1 reason flags and the combined ``keep`` decision. All
    ratio thresholds are cross-multiplied into integer arithmetic, so
    the whole filter is one codegen corpus scan with bit-exact flags."""
    return C.quality_filter(load_table(spark, sf_dir, "documents"))


@register("curation_repetition_stats", C.repetition_stats_oracle_sql())
def curation_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: fraction of token mass taken by
    the top unigram and top bigram per document (exact top-1 with a
    total-order tie break). All shuffles key on doc_id / (doc_id, gram)."""
    return C.repetition_stats(load_table(spark, sf_dir, "documents"))


#: Per-language keep rates for the shipped stratified-sample query:
#: downsample the head language (en) to 20%, keep the tail whole.
_STRAT_RATES = {"en": 20}


@register(
    "curation_stratified_sample",
    C.stratified_sample_oracle_sql("documents", "lang", _STRAT_RATES),
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing downsample: keep iff
    ``md5_60bit(seed:doc_id) % 100 < rate(lang)`` — a stateless,
    deterministic filter (no sampling state, reproducible across runs
    and repartitions)."""
    return C.stratified_sample(
        load_table(spark, sf_dir, "documents"), "lang", _STRAT_RATES
    )


@register(
    "curation_chunk_documents",
    C.chunk_documents_oracle_sql(chunk_tokens=64, overlap=16),
)
def curation_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 64-token windows with 16-token overlap
    — the embedding/RAG splitter stage, pure sequence/explode/slice
    codegen with no shuffle."""
    return C.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


_PARA_BANNER = "Subscribe to our newsletter for weekly updates"
_PARA_FOOTER = "Copyright 2024 Example Corp - all rights reserved"

#: Deterministic RefinedWeb-style fixture: every document gets a
#: shared footer paragraph, every third also a shared banner — the
#: boilerplate a real crawl carries, reproduced identically in both
#: engines so the dedup itself is what the gate checks.
_PARA_SRC_SQL = f"""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0
            THEN '{_PARA_BANNER}' || chr(10) || chr(10)
            ELSE '' END
       || text || chr(10) || chr(10) || '{_PARA_FOOTER}' AS ptext
FROM documents
"""


@register(
    "curation_paragraph_dedup",
    C.paragraph_dedup_oracle_sql(_PARA_SRC_SQL, text_expr="ptext"),
)
def curation_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level boilerplate removal (RefinedWeb's missing
    middle stage between exact and fuzzy document dedup): paragraphs
    repeated across >= {C.PARA_DEDUP_MIN_DOCS} distinct documents
    (the injected footer on every doc, the banner on every third) are
    dropped from every carrier and the text rebuilt in paragraph
    order; unique body paragraphs survive. One content-hash-keyed
    doc-frequency aggregate + a LEFT ANTI join — bucketed by
    paragraph value, never all-pairs
    (operators/curation.py:paragraph_dedup)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(_PARA_BANNER + "\n\n")
            ).otherwise(F.lit("")),
            F.col("text"),
            F.lit("\n\n" + _PARA_FOOTER),
        ).alias("text"),
    )
    return C.paragraph_dedup(docs)


@register(
    "curation_span_exact_dedup",
    C.span_exact_dedup_oracle_sql(span_tokens=8),
)
def curation_span_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granular exact dedup (EXACTSUBSTR-lite, Lee et al. 2021):
    8-word non-overlapping span fingerprints, corpus-wide
    first-occurrence ranking over the span hash (uniform 128-bit
    shuffle key), per-document duplicated-span counts and permille —
    the signal document-level dedup misses when boilerplate repeats
    inside otherwise-distinct pages."""
    return C.span_exact_dedup_stats(
        load_table(spark, sf_dir, "documents"), span_tokens=8
    )


#: Benchmark set for the decontamination query: a fixed handful of
#: document ids standing in for an eval suite.
_DECON_BENCH_IDS = [0, 1, 2, 3, 4]


@register(
    "curation_decontaminate",
    C.decontaminate_oracle_sql(_DECON_BENCH_IDS, min_shared=2),
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing >= 2 word
    trigrams with a benchmark document, with per-pair overlap counts.
    Broadcast benchmark shingles, one corpus pass, no self-join."""
    return C.decontaminate(
        load_table(spark, sf_dir, "documents"), _DECON_BENCH_IDS, min_shared=2
    )


@register(
    "curation_shard_manifest",
    f"""
WITH p AS ({C.pack_token_budget_oracle_sql(budget=2048, n_shards=8)})
SELECT lang, shard, chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc_id
FROM p
GROUP BY lang, shard, chunk_id
""",
)
def curation_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: per packed chunk ``(lang, shard,
    chunk_id)``, the document count, token mass, and id range — the
    table a shard writer consumes and the catalog a trainer reads to
    plan epochs. A pure rollup of the verified packing stage on its
    own partition key, so the groupBy rides the window's existing
    partitioning."""
    packed = C.pack_token_budget(
        load_table(spark, sf_dir, "documents"), budget=2048, n_shards=8
    )
    return packed.groupBy("lang", "shard", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


@register(
    "curation_pipeline_end2end",
    f"""
WITH qf AS ({C.quality_filter_oracle_sql("documents")}),
kept_q AS (
  SELECT d.doc_id, d.text, d.lang FROM documents d
  JOIN qf ON d.doc_id = qf.doc_id AND qf.keep = 1
),
canon AS (
  SELECT MIN(doc_id) AS doc_id FROM kept_q GROUP BY md5(text)
),
deduped AS (
  SELECT k.doc_id, k.lang FROM kept_q k JOIN canon USING (doc_id)
)
SELECT doc_id, lang FROM deduped
WHERE (('0x' || substring(md5('strat-v1:' || CAST(doc_id AS VARCHAR)), 1, 15))
       ::BIGINT) % 100 < CASE WHEN lang = 'en' THEN 20 ELSE 100 END
""",
)
def curation_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages COMPOSED, as a production pipeline would run
    them: quality gates → exact dedup (keep the smallest id per
    content hash) → language-rebalancing downsample. Each stage is the
    already-verified operator applied to the previous stage's output —
    one corpus scan feeding a hash-keyed groupBy and two stateless
    filters, so the composition inherits every stage's scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    kept_q = (
        C.quality_filter(docs)
        .filter(F.col("keep") == 1)
        .select("doc_id")
        .join(docs, "doc_id")
        .select("doc_id", "text", "lang")
    )
    from sressentials_spark.operators.text import exact_dedup_groups

    canon = exact_dedup_groups(kept_q).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    deduped = kept_q.join(canon, "doc_id", "left_semi").select("doc_id", "lang")
    return C.stratified_sample(deduped, "lang", _STRAT_RATES).select(
        "doc_id", "lang"
    )


@register(
    "curation_pack_token_budget",
    C.pack_token_budget_oracle_sql(budget=2048, n_shards=8),
)
def curation_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing: assign each document to
    the 2048-token training chunk where its first token lands. The
    shipped partition key is the sharded composite ``(lang, shard)``
    with ``shard = md5_60bit('pack-v1:' || doc_id) % 8`` — the window
    serializes each partition, so a bare ~5-value ``lang`` key would
    cap the job at ~5 tasks at 100 TB; the hash shard bounds
    per-partition rows while staying deterministic and oracle-exact.
    At scale, raise ``n_shards`` with the data (rows per shard ≈
    corpus / (|langs| · n_shards))."""
    return C.pack_token_budget(
        load_table(spark, sf_dir, "documents"), budget=2048, n_shards=8
    )


# --------------------------------------------------------------------------
# Graph tier 2: triangle counting
# --------------------------------------------------------------------------

@register(
    "graph_triangle_counts",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
tri AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM e e1
        JOIN e e2 ON e1.pa = e2.pa AND e1.pb < e2.pb
        JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
n AS (SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
SELECT CAST(node AS BIGINT) AS node,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM n GROUP BY node
""",
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph —
    tightly-knit product clusters (every pair of the three parts
    co-bought in >= 2 orders). Uses the degree-oriented wedge join
    (:func:`operators.pipeline.triangle_counts`), whose fan-out is
    bounded by arboricity instead of hub degree; the oracle's
    id-ordered enumeration is triangle-set-identical because
    orientation only changes WHERE a triangle is counted, never
    whether. Edge derivation is the already-verified
    ``copurchase_part_pairs`` plan."""
    edges = _copurchase_pairs(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    return P.triangle_counts(edges)


# --------------------------------------------------------------------------
# Text analysis tier 3: tokenizer induction + rare-bigram quality
# --------------------------------------------------------------------------

@register(
    "text_bpe_merge_pairs",
    bpe_merge_pair_counts_oracle_sql(k=20),
)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-trainer merge round: the 20 highest-frequency adjacent
    character pairs across the corpus (count desc, pair asc tie-break).
    Distinct-word collapse first, so pair explosion runs over the word
    vocabulary, not the token stream."""
    from sressentials_spark.operators.text import bpe_merge_pair_counts

    return bpe_merge_pair_counts(load_table(spark, sf_dir, "documents"), k=20)


@register(
    "text_rare_bigram_quality",
    rare_bigram_stats_oracle_sql(rare_max=1),
)
def text_rare_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hapax-bigram share (integer permille) — a fluency/
    garbage pretraining filter signal. Corpus bigram counts reduce to a
    ``count > 1`` key set; the doc-side join is a left join against
    that smaller dim (skewed keys match exactly one row), and rarity
    is the null flag."""
    from sressentials_spark.operators.text import rare_bigram_stats

    return rare_bigram_stats(load_table(spark, sf_dir, "documents"), rare_max=1)


@register(
    "window_trailing_28d_spend",
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 28 DAY PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trailing_28d_cents
FROM orders
""",
)
def window_trailing_28d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: each order's trailing-28-day customer
    spend — the frame is a VALUE interval over event time, not a row
    count, so same-timestamp orders all see the same frame (no
    tie-break needed; a ROWS frame would be order-sensitive here).
    Spark expresses it as ``rangeBetween`` over epoch seconds —
    exactly DuckDB's ``RANGE INTERVAL PRECEDING`` with both bounds
    inclusive. Partitioned by ``o_custkey`` (uniform), one window
    shuffle, frames computed in a single ordered pass per customer —
    the rolling-feature shape every feature-store backfill runs."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # NTZ → epoch seconds via an explicit UTC timestamp hop (the
    # session timezone is pinned UTC, so this is the naive value's own
    # epoch — matching DuckDB's naive-timestamp interval arithmetic;
    # 28 days = 2419200 s exactly, no DST in UTC).
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-28 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(cents).over(w).alias("trailing_28d_cents"),
    )


@register(
    "window_running_customer_spend",
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS running_spend_cents,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
       ) AS BIGINT) AS order_seq
FROM orders
""",
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based window coverage: per-customer cumulative spend over
    order history (``ROWS UNBOUNDED PRECEDING`` running sum + order
    sequence number) in integer cents for oracle exactness. Partition
    key is ``o_custkey`` — uniform, millions of partitions of tens of
    rows at scale, so the single window shuffle is well distributed and
    no per-partition serialization hotspot exists (contrast the
    global-window anti-pattern Spark warns about)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        cents.alias("price_cents"),
        F.sum(cents)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_spend_cents"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


@register(
    "streaming_enriched_event_rollup",
    """
SELECT date_trunc('hour', e.ts) AS window_start,
       n.n_name AS nation,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
""",
)
def streaming_enriched_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events STREAM broadcast-joined to
    the customer→nation dimension per micro-batch (stateless join),
    rolled up per (hour, nation, event_type) with integer-cents
    revenue. The batch SQL restatement is the oracle — streaming and
    batch execution must agree exactly."""
    from sressentials_spark.streaming.enrich import run_enriched_rollup_batch

    return run_enriched_rollup_batch(spark, sf_dir)


@register(
    "streaming_enriched_rollup_multibatch",
    None,  # same oracle as the single-batch replay — assigned below
)
def streaming_enriched_rollup_multibatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The enrich rollup replayed RATE-LIMITED (``maxFilesPerTrigger=1``
    over event-time-ordered staged arrival files): the windowed
    aggregation state must merge partial counts across genuine
    micro-batch boundaries and the static dimension broadcast is
    re-planned per batch — pinning batch-boundary correctness of the
    stream-static enrich join the way the sessionize replays pin user
    state. Same oracle as the single-batch replay: all three (batch
    SQL, one-batch stream, rate-limited stream) must agree exactly."""
    from sressentials_spark.streaming.enrich import (
        run_enriched_rollup_multibatch,
    )

    return run_enriched_rollup_multibatch(spark, sf_dir)


ORACLE_SQL["streaming_enriched_rollup_multibatch"] = ORACLE_SQL[
    "streaming_enriched_event_rollup"
]


# --------------------------------------------------------------------------
# Profiling, densification, fixed-size group sampling
# --------------------------------------------------------------------------

#: Columns the shipped orders profile covers (native-type extrema that
#: stringify identically in Spark and DuckDB: BIGINT, VARCHAR, DATE).
_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
]


@register(
    "profile_orders_columns",
    profile_columns_oracle_sql("orders", _PROFILE_COLS),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler over ``orders``: per column, row/null counts,
    exact distinct cardinality, and native-type min/max rendered as
    strings. One small aggregate per column (columnar scans read only
    their own column) instead of one wide multi-``count_distinct``
    aggregate (which would Expand every row N-fold)."""
    from sressentials_spark.operators.profile import profile_columns

    return profile_columns(load_table(spark, sf_dir, "orders"), _PROFILE_COLS)


@register(
    "events_hourly_gapfill",
    """
WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS mn,
                  date_trunc('hour', MAX(ts)) AS mx FROM events),
sp AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_start FROM b),
ty AS (SELECT DISTINCT event_type FROM events),
hc AS (SELECT date_trunc('hour', ts) AS h, event_type,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM events GROUP BY 1, 2)
SELECT sp.hour_start, ty.event_type,
       CAST(COALESCE(hc.n, 0) AS BIGINT) AS n_events,
       CAST(CASE WHEN hc.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_gap
FROM sp CROSS JOIN ty
LEFT JOIN hc ON hc.h = sp.hour_start AND hc.event_type = ty.event_type
""",
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: a continuous hourly spine per event
    type, left-joined to observed counts with zero fill and a gap
    flag. The spine is ``sequence(min_hour, max_hour, 1 hour)`` off a
    one-row bounds aggregate crossed with the distinct type set, so at
    100 TB the only full-data pass is the hourly count itself. Both
    spine-join inputs are reductions (hours × types), and the
    broadcast hint goes on the HOURLY side: a LeftOuter
    BroadcastHashJoin can only build the non-preserved side, so
    hinting the preserved spine would be silently ignored
    (HintErrorLogger) and the join could degrade to a sort-merge."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    types = e.select("event_type").distinct()
    spine = (
        bounds.crossJoin(F.broadcast(types))
        .select(
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias(
                "hour_start"
            ),
            "event_type",
        )
    )
    return (
        spine
        .join(
            F.broadcast(hourly),
            (F.col("h") == F.col("hour_start"))
            & (spine["event_type"] == hourly["event_type"]),
            "left",
        )
        .select(
            "hour_start",
            spine["event_type"].alias("event_type"),
            F.coalesce("n", F.lit(0).cast("long")).alias("n_events"),
            F.when(F.col("n").isNull(), 1).otherwise(0).cast("long").alias("was_gap"),
        )
    )


@register(
    "events_sliding_2h_rollup",
    """
WITH x AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         date_trunc('hour', ts) AS h
  FROM events
),
w AS (
  SELECT event_type, cents, h AS win_start FROM x
  UNION ALL
  SELECT event_type, cents, h - INTERVAL 1 HOUR FROM x
)
SELECT win_start,
       win_start + INTERVAL 2 HOUR AS win_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents
FROM w GROUP BY 1, 2, 3
""",
)
def events_sliding_2h_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) windows — the one window-assignment semantics
    the tumbling/gap-fill/session families don't cover: 2-hour windows
    every 1 hour, so each event lands in exactly TWO overlapping
    windows (Spark's ``window(ts, '2 hours', '1 hour')`` expands the
    assignment; the oracle restates it as a two-offset UNION ALL).
    The smoothing rollup behind moving dashboards and rate alerting;
    the expansion factor is window/slide — bounded and explicit — and
    the aggregate stays map-side-combinable on (window, type). Same
    integer-cents discipline as the tumbling twin, so the overlap is
    hash-exact."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


@register(
    "events_hourly_locf",
    """
WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS mn,
                  date_trunc('hour', MAX(ts)) AS mx FROM events),
sp AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_start FROM b),
ty AS (SELECT DISTINCT event_type FROM events),
hc AS (SELECT date_trunc('hour', ts) AS h, event_type,
              CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM events GROUP BY 1, 2)
SELECT hour_start, event_type, observed_cents,
       last_value(observed_cents IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY hour_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS cents_locf
FROM (SELECT sp.hour_start, ty.event_type, hc.cents AS observed_cents
      FROM sp CROSS JOIN ty
      LEFT JOIN hc ON hc.h = sp.hour_start AND hc.event_type = ty.event_type) g
""",
)
def events_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly metric with LAST-OBSERVATION-CARRIED-FORWARD
    interpolation — the resampling verb behind feature backfills and
    monitoring dashboards: silent hours inherit the previous observed
    value (NULL until a type's first observation; integer cents so the
    carry is hash-exact). Same spine shape as ``events_hourly_gapfill``
    (the only full-data pass is the hourly sum; everything after is
    O(types x hours), data-volume-independent). The LOCF window
    partitions by event_type ordered by hour — its size is the
    CALENDAR's length, not the corpus's, so the unbounded-preceding
    frame (state = one value) never meets event-scale data."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    types = e.select("event_type").distinct()
    spine = bounds.crossJoin(F.broadcast(types)).select(
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias(
            "hour_start"
        ),
        "event_type",
    )
    grid = spine.join(
        F.broadcast(hourly),
        (F.col("h") == F.col("hour_start"))
        & (spine["event_type"] == hourly["event_type"]),
        "left",
    ).select(
        "hour_start",
        spine["event_type"].alias("event_type"),
        F.col("cents").alias("observed_cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.withColumn(
        "cents_locf", F.last("observed_cents", ignorenulls=True).over(w)
    )


@register(
    "curation_group_sample_topn",
    C.group_sample_topn_oracle_sql("lang", 50),
)
def curation_group_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50-per-language deterministic uniform sample (seeded
    md5 rank, no sampling state) — the fixed-COUNT companion to the
    rate-based stratified sample, as eval-set builders need."""
    return C.group_sample_topn(
        load_table(spark, sf_dir, "documents"), "lang", 50
    )


# --------------------------------------------------------------------------
# TPC-H-style relational tier 2: q3 / q6 / q18 shapes
# --------------------------------------------------------------------------

@register(
    "tpch_q3_unshipped_revenue",
    """
SELECT l.l_orderkey,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT))) AS BIGINT)
         AS revenue_millicents,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue_millicents DESC, l.l_orderkey
LIMIT 10
""",
)
def tpch_q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q3 shape: top-10 highest-revenue orders from one market
    segment, ordered before the cutoff but shipping after it. The
    segment filter prunes customer BEFORE the join (pushdown), the
    filtered customer side broadcasts, and the orders↔lineitem join
    keys on orderkey (uniform). Revenue is integer milli-cents
    (``price_cents × (1000 - discount_permille)``) so the top-10 order
    is bit-stable across engines; the final top-k is a TakeOrdered
    with a total tie-break, never a global sort."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pm = F.round(F.col("l_discount") * 1000).cast("long")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(cents * (F.lit(1000) - disc_pm)).alias("revenue_millicents"))
        .select("l_orderkey", "revenue_millicents", "o_orderdate")
        .orderBy(F.col("revenue_millicents").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q6_forecast_revenue",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * CAST(ROUND(l_discount * 1000) AS BIGINT)) AS BIGINT)
         AS revenue_millicents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(ROUND(l_discount * 1000) AS BIGINT) BETWEEN 50 AND 70
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape: pure filter-and-sum over lineitem — the query
    whose entire cost is the scan, so every predicate must reach the
    parquet reader (date range and quantity are native pushdowns) and
    the sum is one map-side-combinable partial per partition. Revenue
    in integer milli-cents (``price_cents × discount_permille``)."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_pm = F.round(F.col("l_discount") * 1000).cast("long")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & disc_pm.between(50, 70)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(cents * disc_pm).alias("revenue_millicents"),
        )
    )


@register(
    "tpch_q18_large_volume_orders",
    """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 300
)
SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
       CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN big ON big.l_orderkey = o.o_orderkey
GROUP BY c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def tpch_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: orders whose total quantity exceeds 300, with
    their customers. The HAVING subquery reduces lineitem to a small
    orderkey set FIRST (map-side-combinable sum), which then
    broadcast-semi-joins both fact reads — the classic
    aggregate-then-join rewrite that keeps the 3-way join's big sides
    pre-filtered. Quantities are integral in the data; rounding to
    BIGINT makes the HAVING threshold and the final sum exact."""
    l = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sq"))
        .filter(F.col("sq") > 300)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
    ).drop("l_orderkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty).alias("total_qty"))
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
            "total_qty",
        )
    )


@register(
    "streaming_view_purchase_attribution",
    """
SELECT v.user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
""",
)
def streaming_view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time interval join: views matched to same-
    user purchases within the following hour, both sides watermarked
    so buffered join state is evicted once the range condition proves
    a row dead (the contract that bounds state at 100 TB/day). Batch
    self-join restatement is the oracle."""
    from sressentials_spark.streaming.attribution import run_attribution_batch

    return run_attribution_batch(spark, sf_dir)


@register(
    "profile_events_key_skew",
    key_skew_profile_oracle_sql("events", ["user_id", "event_type"]),
)
def profile_events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics over candidate join keys of
    ``events``: cardinality, hottest key (deterministic tie-break),
    and an integer skew ratio — the pre-flight check before keying a
    100 TB join, computed without any global window."""
    from sressentials_spark.operators.profile import key_skew_profile

    return key_skew_profile(
        load_table(spark, sf_dir, "events"), ["user_id", "event_type"]
    )


@register(
    "cdc_scd2_documents",
    """
WITH snapshot AS (
  SELECT doc_id, text, CAST(1 AS BIGINT) AS version FROM documents
),
updates AS (
  SELECT doc_id, upper(text) AS text, CAST(2 AS BIGINT) AS version
  FROM documents WHERE doc_id % 7 = 0
),
redactions AS (
  SELECT doc_id, '[deleted]' AS text, CAST(3 AS BIGINT) AS version
  FROM documents WHERE doc_id % 21 = 0
),
unioned AS (SELECT * FROM snapshot UNION ALL SELECT * FROM updates
            UNION ALL SELECT * FROM redactions)
SELECT doc_id, version, md5(text) AS text_md5,
       LEAD(version) OVER (PARTITION BY doc_id ORDER BY version)
         AS valid_to_version,
       CAST(CASE WHEN LEAD(version) OVER (PARTITION BY doc_id ORDER BY version)
                 IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM unioned
""",
)
def cdc_scd2_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: the CDC version history
    (same synthetic v1 snapshot / v2 updates as ``cdc_upsert``, plus a
    v3 redaction wave) resolved into validity INTERVALS — each row
    carries the version that supersedes it (``lead`` over the per-key
    history) and a current flag, so point-in-time joins become simple
    range predicates. One window shuffle keyed on the uniform document
    id; per-key history is a handful of rows, so no partition
    serializes — the standard warehouse dimension-build shape."""
    docs = load_table(spark, sf_dir, "documents")
    snapshot = docs.select(
        "doc_id", "text", F.lit(1).cast("long").alias("version")
    )
    updates = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.upper("text").alias("text"), F.lit(2).cast("long").alias("version")
    )
    redactions = docs.filter(F.col("doc_id") % 21 == 0).select(
        "doc_id", F.lit("[deleted]").alias("text"), F.lit(3).cast("long").alias("version")
    )
    w = Window.partitionBy("doc_id").orderBy("version")
    hist = snapshot.unionByName(updates).unionByName(redactions)
    nxt = F.lead("version").over(w)
    return hist.select(
        "doc_id",
        "version",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        nxt.alias("valid_to_version"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


@register("sim_lsh_recall_at_k", _recall_sql(ORACLE_SQL["sim_cosine_topk_lsh"]))
def sim_lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a first-class query: recall@10 of the hyperplane-
    LSH top-k against the exact top-k, per query vector (integer
    permille). This is the evaluation loop an embedding store runs
    when tuning bands/probes — the exact side is the deliberate
    baseline scan, the approx side the production path, and the
    comparison a tiny per-query join of two k-row sets."""
    return _recall_at_k(
        spark, sf_dir, QUERIES["sim_cosine_topk_lsh"](spark, sf_dir)
    )


#: Query-id set for the multi-probe recall eval: 50 queries — the
#: 5-query headline set is too small to separate the variants (±1 hit
#: swings dominate); 500 exact-vs-approx pairs give a stable read.
_RECALL_QUERY_IDS = list(range(50))
_RECALL_IDS_SQL = ", ".join(map(str, _RECALL_QUERY_IDS))

_RECALL_EXACT_SQL = f"""
WITH qx AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id IN ({_RECALL_IDS_SQL})),
sx AS (SELECT qx.query_id, e.vec_id AS neighbor_id,
              {_cos_sql('qx.qv', 'e.embedding')} AS cosine
       FROM qx JOIN embeddings e ON e.vec_id <> qx.query_id),
rx AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank FROM sx)
SELECT query_id, neighbor_id FROM rx WHERE rank <= 10
"""

_RECALL_MULTI_SQL = f"""
WITH wb AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
            FROM embeddings),
{_multiprobe_probes_sql(_RECALL_IDS_SQL, S.MULTIPROBE_PROBES)},
sm AS (SELECT p.query_id, e.vec_id AS neighbor_id,
              {_cos_sql('p.qv', 'e.embedding')} AS cosine
       FROM probes p JOIN wb e ON e.bucket = p.pb AND e.vec_id <> p.query_id),
rm AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank FROM sm)
SELECT query_id, neighbor_id FROM rm WHERE rank <= 10
"""

_SINGLE4_SQL = f"""
WITH wb4 AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding', 4)} AS bucket
             FROM embeddings),
q4 AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qb FROM wb4
       WHERE vec_id IN ({_RECALL_IDS_SQL})),
s4 AS (SELECT q4.query_id, e.vec_id AS neighbor_id,
              {_cos_sql('q4.qv', 'e.embedding')} AS cosine
       FROM q4 JOIN wb4 e ON e.bucket = q4.qb AND e.vec_id <> q4.query_id),
r4 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank FROM s4)
SELECT query_id, neighbor_id FROM r4 WHERE rank <= 10
"""


@register(
    "sim_lsh_multiprobe_recall_at_k",
    f"""
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_multiprobe,
       CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_single_eq_fanin,
       CAST((1000 * SUM(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
         // COUNT(*) AS BIGINT) AS recall_multi_permille,
       CAST((1000 * SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
         // COUNT(*) AS BIGINT) AS recall_single_permille
FROM ({_RECALL_EXACT_SQL}) e
LEFT JOIN ({_RECALL_MULTI_SQL}) m
  ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
LEFT JOIN ({_SINGLE4_SQL}) s
  ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
GROUP BY e.query_id
""",
)
def sim_lsh_multiprobe_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-probe payoff measured INSIDE the engine at equal
    fan-in: recall@10 over 50 query vectors of (a) the 6-plane/4-probe
    multi-probe index and (b) a single-probe 4-plane index — both
    score an expected 1/16 of the corpus per query (measured 34 vs 32
    candidates/query at sf0.01) — against the exact top-k. Multi-probe
    spends its fan-in on the lowest-margin flips of a finer partition
    instead of a coarser partition's single bucket; measured at sf0.01
    over 500 exact pairs: multi 164‰ vs single-equal-fan-in 134‰ (and
    the same-index single probe manages only 40‰ at 1/4 the fan-in).
    This query is the committed evidence."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, _RECALL_QUERY_IDS, k=10).select(
        "query_id", "neighbor_id"
    )
    multi = (
        S.cosine_topk_lsh(emb, _RECALL_QUERY_IDS, k=10, nprobe=S.MULTIPROBE_PROBES)
        .select("query_id", "neighbor_id")
        .withColumn("mhit", F.lit(1))
    )
    single4 = (
        S.cosine_topk_lsh(emb, _RECALL_QUERY_IDS, k=10, planes=4)
        .select("query_id", "neighbor_id")
        .withColumn("shit", F.lit(1))
    )
    return (
        exact.join(multi, ["query_id", "neighbor_id"], "left")
        .join(single4, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("mhit", F.lit(0))).cast("long").alias("hits_multiprobe"),
            F.sum(F.coalesce("shit", F.lit(0)))
            .cast("long")
            .alias("hits_single_eq_fanin"),
        )
        .select(
            "query_id",
            "n_exact",
            "hits_multiprobe",
            "hits_single_eq_fanin",
            F.expr("(1000 * hits_multiprobe) div n_exact").alias(
                "recall_multi_permille"
            ),
            F.expr("(1000 * hits_single_eq_fanin) div n_exact").alias(
                "recall_single_permille"
            ),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    """
SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                          * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT))
                     ELSE 0 END) AS BIGINT) AS promo_revenue_millicents,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT))) AS BIGINT)
         AS total_revenue_millicents,
       CAST((1000 * SUM(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                             * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT))
                        ELSE 0 END))
         // SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT)))
         AS BIGINT) AS promo_share_permille
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-02-01'
""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: promotional revenue share for one month. The
    date filter prunes lineitem at the scan; the part dimension
    broadcasts (fact never shuffles); the conditional/total sums are
    one map-side-combinable aggregate in integer milli-cents, and the
    share is an integer permille — no float division in the gate."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(1000) - F.round(F.col("l_discount") * 1000).cast("long")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("long"))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .agg(
            F.sum(promo).alias("promo_revenue_millicents"),
            F.sum(rev).alias("total_revenue_millicents"),
        )
        .select(
            "promo_revenue_millicents",
            "total_revenue_millicents",
            F.expr(
                "(1000 * promo_revenue_millicents) div total_revenue_millicents"
            ).alias("promo_share_permille"),
        )
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT))) AS BIGINT)
         AS revenue_millicents
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: a disjunction of brand/size/quantity predicate
    bundles over the joined fact. The join stays a plain broadcast
    equi-join on partkey with the disjunction applied as a post-join
    filter — the planner must NOT fall into a nested-loop join over
    the OR (the audit pins no CartesianProduct/BNLJ); per-bundle
    single-side conjuncts (brand/size on part, quantity bounds on
    lineitem as a derived OR envelope) could be pushed further at
    scale, but the equi-key is what keeps this linear."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(1000) - F.round(F.col("l_discount") * 1000).cast("long")
    )
    bundle = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .filter(bundle)
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(rev).alias("revenue_millicents"),
        )
    )


@register(
    "cube_events_type_day",
    """
SELECT event_type,
       CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY CUBE(event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR))
""",
)
def cube_events_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: per (type, day), per type, per day, and the
    grand total in one pass. The Expand this compiles to is the
    INHERENT cost of grouping sets (each input row feeds all four
    grouping combinations — 4× amplification, fixed and chosen), the
    opposite of the accidental multi-``count_distinct`` Expand the
    profiler avoids; at 100 TB you pay it only when you really want
    all the marginals materialized together."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").cast("string").alias("day"),
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    return e.cube("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("vc").alias("value_cents"),
    )


@register(
    "curation_quality_weighted_sample",
    f"""
WITH rb AS ({rare_bigram_stats_oracle_sql(rare_max=1)})
SELECT doc_id,
       CAST(greatest(0, least(1000, 12 * n_bigrams) - 10 * rare_permille)
            AS BIGINT) AS keep_permille,
       CAST(('0x' || substring(md5('qws-v1:' || CAST(doc_id AS VARCHAR)), 1, 15))
            ::BIGINT % 1000 AS BIGINT) AS draw
FROM rb
WHERE (('0x' || substring(md5('qws-v1:' || CAST(doc_id AS VARCHAR)), 1, 15))
       ::BIGINT % 1000)
      < greatest(0, least(1000, 12 * n_bigrams) - 10 * rare_permille)
""",
)
def curation_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED downsampling: each document's keep probability
    is a length-balanced, fluency-penalized weight —
    ``clamp(12 x n_bigrams, 0..1000) - 10 x rare_permille`` — realized
    as a deterministic hash draw (``md5(seed:id) % 1000 < weight``).
    The soft alternative to a hard quality gate: short boilerplate is
    thinned in proportion to length (de-biasing the doc-count mix away
    from fragments) and noisy documents pay an amplified hapax-share
    penalty, but neither is axed outright, preserving tail diversity.
    Stateless per row given the (already scale-shaped) rare-bigram
    stage; reproducible across runs and repartitions."""
    from sressentials_spark.operators.dedup import md5_long
    from sressentials_spark.operators.text import rare_bigram_stats

    rb = rare_bigram_stats(load_table(spark, sf_dir, "documents"), rare_max=1)
    draw = F.pmod(
        md5_long(F.concat(F.lit("qws-v1:"), F.col("doc_id").cast("string"))),
        F.lit(1000),
    ).cast("long")
    keep = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(1000).cast("long"), 12 * F.col("n_bigrams"))
        - 10 * F.col("rare_permille"),
    ).cast("long")
    return (
        rb.select(
            "doc_id",
            keep.alias("keep_permille"),
            draw.alias("draw"),
        )
        .filter(F.col("draw") < F.col("keep_permille"))
    )


@register(
    "graph_degree_histogram",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
d AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb FROM e) n
      GROUP BY node)
SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS degree_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(deg) AS BIGINT) AS min_degree,
       CAST(MAX(deg) AS BIGINT) AS max_degree
FROM d GROUP BY 1
""",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph —
    the power-law diagnostic run BEFORE any wedge/propagation job to
    size skew mitigations (the hub the triangle orientation defends
    against shows up as a lonely high bucket here). Rides the shared
    session edge-list artifact; two map-side-combinable aggregates,
    output rows = O(log max_degree). The bucket is the INTEGER bit
    length (``length(bin(deg)) - 1`` == floor(log2) for positive
    degrees) — float ``log2`` disagrees between engines by an ulp at
    exact powers of two, which would shift a bucket boundary; string
    bit-length is exact in both."""
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("part_a").alias("node"))
        .unionAll(pairs.select(F.col("part_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.groupBy(
            (F.length(F.bin("deg")) - 1).cast("long").alias("degree_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_degree"),
            F.max("deg").alias("max_degree"),
        )
    )


@register(
    "window_customer_spend_quartiles",
    """
WITH s AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_spend_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey)
SELECT o_custkey, total_spend_cents, n_orders,
       CAST(NTILE(4) OVER (ORDER BY total_spend_cents, o_custkey) AS BIGINT)
         AS spend_quartile,
       CAST(ROW_NUMBER() OVER (ORDER BY total_spend_cents DESC, o_custkey DESC)
            AS BIGINT) AS spend_rank
FROM s
""",
)
def window_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) + global rank over the per-customer spend rollup,
    WITHOUT an unpartitioned window. Quartiles/ranks are global
    properties of the population, but a bare ``ntile() OVER (ORDER BY
    ...)`` single-partitions the whole rollup (hundreds of millions of
    customers at 100 TB) through one task. Instead
    :func:`~sressentials_spark.operators.rownum.with_global_rank`
    computes the exact ascending position ``r`` distributively
    (range-exchange → per-bucket windows → broadcast prefix-sum
    offsets), and both outputs are pure arithmetic on ``(r, n)``:

    * ``spend_quartile`` — NTILE(4)'s exact assignment: the first
      ``n % 4`` tiles get ``n div 4 + 1`` rows, the rest ``n div 4``;
    * ``spend_rank`` — the descending position ``n + 1 - r`` (total
      tie-break, so the oracle orders ``spend DESC, custkey DESC``).

    One ranking pass serves both. Tested: no Window node without a
    partition spec on the data path (test_plan_shapes.py)."""
    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_spend_cents"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    ranked = _RN.with_global_rank(
        s, ["total_spend_cents", "o_custkey"], name="__r", total_name="__n"
    )
    # NTILE(k) arithmetic on (r, n): base = n div 4, rem = n % 4,
    # cut = (base+1)*rem rows fill the first rem (larger) tiles. The
    # ELSE branch divides by base only when r > cut, which implies
    # base >= 1 (CASE evaluates lazily), so no ANSI div-by-zero.
    return ranked.select(
        "o_custkey",
        "total_spend_cents",
        "n_orders",
        F.expr(
            "CAST(CASE WHEN __r <= ((__n div 4) + 1) * (__n % 4) "
            "THEN (__r + (__n div 4)) div ((__n div 4) + 1) "
            "ELSE (__n % 4) + "
            "((__r - ((__n div 4) + 1) * (__n % 4)) + (__n div 4) - 1) "
            "div (__n div 4) END AS BIGINT)"
        ).alias("spend_quartile"),
        (F.col("__n") + 1 - F.col("__r")).cast("long").alias("spend_rank"),
    )


@register(
    "mysql_hourly_slow_rate",
    f"""
WITH ev AS ({loggen.MYSQL_EV})
SELECT date_trunc('hour', strptime(tstr, '%y%m%d %H:%M:%S')) AS window_start,
       CAST(COUNT(*) AS BIGINT)  AS n_slow,
       MAX(qt_ms)                AS max_query_time_ms,
       MIN(qt_ms)                AS min_query_time_ms
FROM ev
WHERE event_type <> 'error' AND qt_ms > 50000
GROUP BY 1
""",
)
def mysql_hourly_slow_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal symmetry with the Mongo side: hourly rate of the
    slowest MySQL queries (> 50 s), computed FROM THE PARSED SHEET —
    the engine's own ``mysql_detailed`` output is the input, so the
    rollup exercises the full scan → record-split → regex-extract →
    N3 pipeline before a single low-cardinality window groupBy.
    Extrema only (no double sums — max/min are order-independent,
    summation is not)."""
    sheet = _mysql_sheet(spark, sf_dir, "detailed")
    return (
        sheet.select(
            F.date_trunc(
                "hour", F.to_timestamp(F.col("Time"), "yyMMdd HH:mm:ss")
            ).alias("window_start"),
            F.col("Query_time (ms)").alias("qt_ms"),
        )
        .filter(F.col("qt_ms") > 50000)
        .groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_slow"),
            F.max("qt_ms").alias("max_query_time_ms"),
            F.min("qt_ms").alias("min_query_time_ms"),
        )
    )


@register(
    "tpch_q9_profit_by_supp_nation_year",
    """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT))) AS BIGINT)
         AS revenue_millicents
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
""",
)
def tpch_q9_profit_by_supp_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape (minus partsupp, absent from the schema):
    revenue by supplier nation × ship year. The supplier→nation
    dimension chain broadcasts (fact never shuffles for it); the year
    extraction is a scan-side expression; the final groupBy keys on a
    ~(25 × 7)-cardinality composite — map-side combinable to almost
    nothing. Revenue in integer milli-cents."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = s.join(n, s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(1000) - F.round(F.col("l_discount") * 1000).cast("long")
    )
    return (
        l.join(F.broadcast(dim), l["l_suppkey"] == dim["s_suppkey"])
        .groupBy(
            "nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(rev).alias("revenue_millicents"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    """
WITH eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'),
pc AS (
  SELECT l.l_partkey, l.l_suppkey,
         MIN(l.l_extendedprice / l.l_quantity) AS supply_cost
  FROM lineitem l JOIN eu ON l.l_suppkey = eu.s_suppkey
  GROUP BY l.l_partkey, l.l_suppkey)
SELECT p.p_partkey, p.p_brand, p.p_type, eu.s_name, eu.n_name,
       eu.s_acctbal, pc.supply_cost
FROM pc
JOIN eu ON pc.l_suppkey = eu.s_suppkey
JOIN part p ON p.p_partkey = pc.l_partkey
WHERE pc.supply_cost = (SELECT MIN(pc2.supply_cost) FROM pc pc2
                        WHERE pc2.l_partkey = pc.l_partkey)
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape — the canonical correlated min-per-group
    subquery ("the supplier(s) achieving the minimum supply cost for
    each part in a region"), restated on the available schema: supply
    cost of a (part, supplier) pair is its minimum observed unit price
    over lineitems, suppliers restricted to EUROPE.

    The oracle keeps the textbook correlated subquery; the engine
    plans it the way the subquery should execute at 100 TB:

    * the region→nation→supplier dim chain broadcasts onto lineitem
      (the fact side never shuffles for the filter);
    * one uniform-key groupBy builds the (part, supplier) cost table;
    * the correlated ``= (SELECT MIN ...)`` becomes a ``min() OVER
      (PARTITION BY partkey)`` + filter on the ALREADY-AGGREGATED cost
      table — one shuffle on partkey, no join back, no second scan
      (the join-back formulation re-shuffles the cost table twice);
    * part/supplier attributes attach by broadcast afterwards, so only
      winner rows pay the dimension joins.

    Unit price is an IEEE double division — bit-identical in the JVM
    and DuckDB — so the float equality against the group minimum is
    exact on both sides."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    eu = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"],
                ).select("n_nationkey", "n_name")
            ),
            supplier["s_nationkey"] == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
    )
    pc = (
        li.join(F.broadcast(eu.select("s_suppkey")),
                li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cost").alias("supply_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = pc.withColumn("_mc", F.min("supply_cost").over(w)).filter(
        F.col("supply_cost") == F.col("_mc")
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type"
    )
    return (
        best.join(F.broadcast(eu), best["l_suppkey"] == eu["s_suppkey"])
        .join(F.broadcast(part), best["l_partkey"] == part["p_partkey"])
        .select(
            "p_partkey",
            "p_brand",
            "p_type",
            "s_name",
            "n_name",
            "s_acctbal",
            "supply_cost",
        )
    )


@register(
    "tpch_q4_priority_semi",
    """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o.o_orderpriority
""",
)
def tpch_q4_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape (order-priority checking): orders from one
    quarter with at least one lineitem shipped >30 days after the
    order date, counted per priority. The EXISTS becomes a LEFT SEMI
    join — each order emits at most once no matter how many lineitems
    qualify, and the probe side carries only (orderkey, orderdate), so
    the shuffle moves two longs per order. The quarter filter prunes
    orders at the scan; the semi join keys on orderkey (uniform), with
    the 30-day lag evaluated as a join-side predicate. (The canonical
    q4 uses commit/receipt dates the testdata doesn't carry; the
    late-shipment predicate keeps the identical plan shape.)"""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
SELECT n.n_name,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (1000 - CAST(ROUND(l.l_discount * 1000) AS BIGINT))) AS BIGINT)
         AS revenue_millicents
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q5 shape (local supplier volume): revenue per nation for
    one region and year where the customer and supplier share a
    nation — the classic 6-way join-ordering benchmark. Plan shape:
    region⋈nation⋈supplier collapses to one broadcast (tiny dims), so
    lineitem pays a map-side hash join for its supplier/nation
    attributes; the remaining shuffles are the two fact joins
    (lineitem⋈orders on orderkey, ⋈customer on custkey, both uniform)
    and the same-nation predicate filters AFTER the customer join,
    exactly as the spec demands. Revenue in integer milli-cents."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pm = F.round(F.col("l_discount") * 1000).cast("long")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(cents * (F.lit(1000) - disc_pm)).alias("revenue_millicents")
        )
    )


@register(
    "tpch_q12_priority_by_returnflag",
    """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
""",
)
def tpch_q12_priority_by_returnflag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H q12 shape (shipping modes / priority classes): lineitems
    shipped in one year, classified by order priority and counted per
    return flag. The date filter prunes lineitem at the scan, orders
    rides the join projected to (orderkey, priority) only, and the
    conditional counts are map-side-combinable partial sums over a
    3-row group key. (The testdata carries no l_shipmode; l_returnflag
    plays the low-cardinality grouping role with the identical plan.)"""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_customer_order_distribution",
    """
WITH c_orders AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY c_count
""",
)
def tpch_q13_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H q13 shape (customer distribution): how many customers
    placed how many (non-urgent) orders, INCLUDING zero — the
    double-aggregate over a left outer join that inner-join engines
    get wrong. The outer join keys on custkey (uniform); the first
    aggregate collapses to one row per customer before the second
    (tiny, c_count-keyed) aggregate, so the big shuffle happens once.
    (The spec's comment-pattern filter becomes a priority filter —
    same not-quite-all exclusion shape — since the testdata carries no
    order comments.)"""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "events_hourly_trend_by_type",
    """
WITH hc AS (
  SELECT event_type,
         CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
ho AS (
  SELECT event_type, hr - MIN(hr) OVER (PARTITION BY event_type) AS x, y
  FROM hc)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(y) AS BIGINT) AS total_events,
       CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
         / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
         AS slope_per_hour
FROM ho GROUP BY event_type
""",
)
def events_hourly_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type traffic trend: the least-squares slope of hourly event
    counts over time — the aggregate-form regression pattern (one
    groupBy computing Σx, Σy, Σxy, Σx² — no ML library, no Python, no
    second pass). Everything before the final division is INTEGER
    arithmetic (hour index re-based per type so Σx² stays far from
    64-bit overflow at any horizon; counts are longs), so the sums are
    exact and order-independent — float determinism never enters until
    one double division per group. Two shuffles total: the uniform
    (type, hour) rollup, then a ~|types|-row window + aggregate."""
    e = load_table(spark, sf_dir, "events")
    hc = (
        e.groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", "ts")) / F.lit(3600000000))
            .cast("long")
            .alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.partitionBy("event_type")
    ho = hc.select(
        "event_type",
        (F.col("hr") - F.min("hr").over(w)).alias("x"),
        "y",
    )
    n = F.count(F.lit(1))
    return ho.groupBy("event_type").agg(
        n.cast("long").alias("n_hours"),
        F.sum("y").cast("long").alias("total_events"),
        (
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).cast(
                "double"
            )
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).cast(
                "double"
            )
        ).alias("slope_per_hour"),
    )


@register(
    "streaming_view_purchase_attribution_outer",
    """
SELECT v.user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts
FROM events v
LEFT JOIN events p
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view'
""",
)
def streaming_view_purchase_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream attribution: every view row emits —
    matched to in-window purchases, or null-padded once watermarked
    state expiry PROVES no purchase can still arrive (the
    never-converted views an inner join can't produce). Far-future
    sentinel rows drive both sides' final watermarks so the replay
    settles completely; the oracle is the plain relational left join."""
    from sressentials_spark.streaming.attribution import (
        run_attribution_outer_batch,
    )

    return run_attribution_outer_batch(spark, sf_dir)


@register(
    "streaming_view_purchase_attribution_full",
    """
SELECT COALESCE(v.user_id, p.user_id) AS user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       v.ts AS view_ts,
       p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'view') v
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
""",
)
def streaming_view_purchase_attribution_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream attribution — the complete join-type
    family: matched pairs, never-converted views (null purchase side),
    AND organic purchases with no preceding view (null view side).
    Both non-match directions are provable only through watermarked
    state expiry; the emitted key coalesces the two sides' user ids.
    Oracle is the plain relational full join."""
    from sressentials_spark.streaming.attribution import (
        run_attribution_full_outer_batch,
    )

    return run_attribution_full_outer_batch(spark, sf_dir)


@register(
    "audit_referential_integrity",
    """
SELECT 'lineitem_orphans' AS check_name,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
         AS n_violations
UNION ALL
SELECT 'orders_without_customer',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'duplicate_orderkeys',
       CAST((SELECT COALESCE(SUM(cnt - 1), 0) FROM
             (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey) g
             WHERE cnt > 1) AS BIGINT)
UNION ALL
SELECT 'customer_null_nation',
       CAST((SELECT COUNT(*) FROM customer WHERE c_nationkey IS NULL) AS BIGINT)
""",
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit suite: one row per referential/uniqueness
    check with its violation count — the gate a pipeline runs before
    trusting a new 100 TB snapshot. Orphan checks are LEFT ANTI joins
    (the NOT EXISTS shape — no row materialization for matches, and
    the anti join's small side broadcasts or shuffles on the uniform
    key); the duplicate check is a map-side-combinable groupBy. Each
    check reduces to one scalar before the union, so the result is
    always exactly one row per check, violations or none."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    def scalar(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.coalesce(F.first("n"), F.lit(0)).cast("long").alias("n_violations"),
        )

    orphans = scalar(
        "lineitem_orphans",
        l.join(o, l["l_orderkey"] == o["o_orderkey"], "left_anti").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    no_cust = scalar(
        "orders_without_customer",
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    dup_keys = scalar(
        "duplicate_orderkeys",
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n")),
    )
    null_nation = scalar(
        "customer_null_nation",
        c.filter(F.col("c_nationkey").isNull()).agg(F.count(F.lit(1)).alias("n")),
    )
    return (
        orphans.unionByName(no_cust).unionByName(dup_keys).unionByName(null_nation)
    )


@register(
    "audit_value_constraints",
    """
WITH li AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
         CAST(SUM(CASE WHEN l_extendedprice <= 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
         CAST(SUM(CASE WHEN l_discount >= 0.05
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_disc
  FROM lineitem
),
o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS bad_total,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_cust
  FROM orders
)
SELECT 'lineitem_quantity_in_1_50' AS constraint_name,
       li.n AS n_checked, li.bad_qty AS n_violations FROM li
UNION ALL
SELECT 'lineitem_discount_in_0_10pct', li.n, li.bad_disc FROM li
UNION ALL
SELECT 'lineitem_extendedprice_positive', li.n, li.bad_price FROM li
UNION ALL
SELECT 'lineitem_high_discount_warn', li.n, li.high_disc FROM li
UNION ALL
SELECT 'orders_totalprice_positive', o.n, o.bad_total FROM o
UNION ALL
SELECT 'orders_custkey_not_null', o.n, o.null_cust FROM o
""",
)
def audit_value_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level expectations suite — the complement of the
    referential audit: range, ordering and nullability constraints
    with (n_checked, n_violations) per constraint, the gate an ingest
    pipeline evaluates before promoting a snapshot. All constraints
    over one table fold in a SINGLE conditional-aggregation scan
    (map-side partials; one row crosses the shuffle per constraint),
    so auditing k constraints costs one pass, not k. The
    ``high_discount_warn`` check is deliberately a WARN-tier
    threshold expectation with real hits in TPC-H-shaped data
    (discounts are uniform 0-0.10), so the suite demonstrably
    reports rather than asserts."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    li_agg = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).cast("long").alias("bad_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
            ).otherwise(0)
        ).cast("long").alias("bad_disc"),
        F.sum(
            F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)
        ).cast("long").alias("bad_price"),
        F.sum(
            F.when(F.col("l_discount") >= 0.05, 1).otherwise(0)
        ).cast("long").alias("high_disc"),
    )
    o_agg = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("bad_total"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_cust"),
    )

    def unpivot(src: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
        # Explode the ONE-ROW aggregate into one row per constraint —
        # a union of per-constraint selects would re-run the scan per
        # branch; this keeps it one pass per table.
        return src.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(nm).alias("constraint_name"),
                        F.col("n").alias("n_checked"),
                        F.col(c).alias("n_violations"),
                    )
                    for nm, c in pairs
                ])
            ).alias("r")
        ).select("r.*")

    return unpivot(
        li_agg,
        [
            ("lineitem_quantity_in_1_50", "bad_qty"),
            ("lineitem_discount_in_0_10pct", "bad_disc"),
            ("lineitem_extendedprice_positive", "bad_price"),
            ("lineitem_high_discount_warn", "high_disc"),
        ],
    ).unionByName(
        unpivot(
            o_agg,
            [
                ("orders_totalprice_positive", "bad_total"),
                ("orders_custkey_not_null", "null_cust"),
            ],
        )
    )


# --------------------------------------------------------------------------
# TPC-H family completion (q7/q8/q10/q15/q17/q21/q22 shapes).
# q11/q16/q20 are omitted: they are partsupp-centric and the testdata
# carries no partsupp table (TESTDATA.md), so there is no faithful
# adaptation. All money stays in integer milli-cents / cents and every
# ratio is an integer permille so the value-hash gate never sees float
# drift (the r5 lesson: DuckDB `//` promotes through HUGEINT — every
# floor-division output below is CAST AS BIGINT on the oracle side).
# --------------------------------------------------------------------------

_REV_SQL = (
    "CAST(ROUND(l.l_extendedprice*100) AS BIGINT)"
    " * (1000 - CAST(ROUND(l.l_discount*1000) AS BIGINT))"
)


def _rev_col() -> Column:
    """Integer milli-cents revenue: cents x (1000 - discount permille)."""
    return F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(1000) - F.round(F.col("l_discount") * 1000).cast("long")
    )


@register(
    "tpch_q7_volume_shipping",
    f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_millicents
FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape (volume shipping): bilateral trade revenue
    between two nations by ship year. The disjunctive two-nation
    predicate factors into "both endpoints in {A, B} and different":
    supplier and customer are each pre-filtered to the two nations
    BEFORE touching a fact table (broadcast nation joins), so both
    fact joins run against dimension slices a few percent of full
    size, and the cross-pair filter is a cheap post-join inequality.
    Two fact shuffles remain (lineitem x orders on orderkey, x the
    pruned customer on custkey, both uniform keys); year extraction
    and the revenue sum are map-side-combinable over a 4-row group."""
    pair = ("NATION_3", "NATION_8")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    ).select("n_nationkey", "n_name")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev_col()).alias("revenue_millicents"))
    )


@register(
    "tpch_q8_national_market_share",
    f"""
WITH rev AS (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
         n1.n_name AS supp_nation, {_REV_SQL} AS r
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region rg ON n2.n_regionkey = rg.r_regionkey AND rg.r_name = 'ASIA'
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01')
SELECT o_year,
  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN r ELSE 0 END) AS BIGINT)
    AS nation_revenue_millicents,
  CAST(SUM(r) AS BIGINT) AS total_revenue_millicents,
  CAST((1000 * SUM(CASE WHEN supp_nation = 'NATION_3' THEN r ELSE 0 END))
       // SUM(r) AS BIGINT) AS mkt_share_permille
FROM rev GROUP BY o_year
""",
)
def tpch_q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape (national market share): one nation's share of
    ECONOMY-part revenue sold into the ASIA market, per order year.
    Every dimension (part slice, supplier+nation, ASIA customers)
    broadcasts, so lineitem shuffles only twice (x orders, x customer
    on uniform keys). The share is exact integer arithmetic end to
    end: conditional and total revenue are map-combinable long sums
    per year, and the permille is a long DIV — the oracle's `//` is
    CAST back to BIGINT because DuckDB floor-division promotes
    through HUGEINT (the r5 red-row vector)."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    n = load_table(spark, sf_dir, "nation")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(rg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nat = F.when(F.col("supp_nation") == "NATION_3", _rev_col()).otherwise(
        F.lit(0).cast("long")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(nat).alias("nation_revenue_millicents"),
            F.sum(_rev_col()).alias("total_revenue_millicents"),
        )
        .select(
            "o_year",
            "nation_revenue_millicents",
            "total_revenue_millicents",
            F.expr(
                "(1000 * nation_revenue_millicents) div total_revenue_millicents"
            ).alias("mkt_share_permille"),
        )
    )


@register(
    "tpch_q10_returned_items",
    f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(ROUND(c.c_acctbal*100) AS BIGINT) AS acctbal_cents,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_millicents
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue_millicents DESC, c.c_custkey
LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter. Return-flag and date
    filters prune both fact scans; the customer join shuffles on the
    uniform custkey and nation broadcasts. The top-20 is a
    TakeOrderedAndProject — per-partition top-k then a 20-row driver
    merge, never a global sort — with c_custkey as the deterministic
    tie-break so the LIMIT is stable across engines and partition
    counts."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
        .agg(F.sum(_rev_col()).alias("revenue_millicents"))
        .orderBy(F.desc("revenue_millicents"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q15_top_supplier",
    f"""
WITH rev AS (
  SELECT l.l_suppkey,
         CAST(SUM({_REV_SQL}) AS BIGINT) AS total_revenue_millicents
  FROM lineitem l
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l.l_suppkey)
SELECT s.s_suppkey, s.s_name, rev.total_revenue_millicents
FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
WHERE rev.total_revenue_millicents
      = (SELECT MAX(total_revenue_millicents) FROM rev)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape (top supplier): supplier(s) whose one-quarter
    revenue equals the maximum — the scalar-subquery-against-a-CTE
    pattern, emitting ALL ties (which LIMIT 1 would lose). The
    per-supplier rollup shuffles once on the uniform suppkey; the
    scalar max is a one-row aggregate broadcast back as an equi-join
    key (a BroadcastHashJoin on the revenue value, not a nested-loop
    filter), and the surviving handful of rows broadcast into the
    supplier dimension. Integer milli-cents, so "equals the max" is
    exact — no float-equality hazard."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = l.groupBy("l_suppkey").agg(
        F.sum(_rev_col()).alias("total_revenue_millicents")
    )
    mx = rev.agg(
        F.max("total_revenue_millicents").alias("max_revenue_millicents")
    )
    top = rev.join(
        F.broadcast(mx),
        rev["total_revenue_millicents"] == mx["max_revenue_millicents"],
    ).select("l_suppkey", "total_revenue_millicents")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(F.broadcast(top), s["s_suppkey"] == top["l_suppkey"]).select(
        "s_suppkey", "s_name", "total_revenue_millicents"
    )


@register(
    "tpch_q17_small_quantity_revenue",
    """
WITH pl AS (
  SELECT l.l_partkey, CAST(ROUND(l.l_quantity) AS BIGINT) AS qty,
         CAST(ROUND(l.l_extendedprice*100) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#13'),
pa AS (SELECT l_partkey, SUM(qty) AS sum_qty, COUNT(*) AS cnt
       FROM pl GROUP BY l_partkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
       CAST(COALESCE(SUM(pl.cents), 0) AS BIGINT) AS small_revenue_cents
FROM pl JOIN pa ON pl.l_partkey = pa.l_partkey
WHERE 5 * pl.qty * pa.cnt < pa.sum_qty
""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape (small-quantity-order revenue): revenue from
    lineitems of one brand whose quantity is below 20% of that part's
    average order quantity — the correlated-average decorrelated into
    a per-part aggregate joined back to the detail rows. The brand
    slice broadcasts into lineitem, the per-part averages over that
    slice are small enough to broadcast back, so the fact table never
    shuffles at all. The 20%-of-average test is exact integer math:
    qty < 0.2 * sum/cnt  <=>  5*qty*cnt < sum (quantities are
    integral and cnt > 0), so no float division enters the predicate
    in either engine."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    ).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    pl = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "qty", "cents"
    )
    pa = pl.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    ).withColumnRenamed("l_partkey", "pa_partkey")
    return (
        pl.join(F.broadcast(pa), pl["l_partkey"] == pa["pa_partkey"])
        .filter(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("small_revenue_cents"),
        )
    )


@register(
    "tpch_q21_waiting_supplier",
    """
WITH fo AS (SELECT o_orderkey, o_orderdate FROM orders
            WHERE o_orderstatus = 'F'),
late AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey
         FROM lineitem l JOIN fo ON l.l_orderkey = fo.o_orderkey
         WHERE l.l_shipdate > fo.o_orderdate + INTERVAL 60 DAY),
alllf AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey
          FROM lineitem l JOIN fo ON l.l_orderkey = fo.o_orderkey)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_regionkey = 2
WHERE EXISTS (SELECT 1 FROM alllf l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s.s_name
""",
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape (suppliers who kept orders waiting): per ASIA
    supplier, the count of finished multi-supplier orders where THIS
    supplier was the only late shipper. The EXISTS becomes a LEFT
    SEMI and the NOT EXISTS a LEFT ANTI join, both keyed on the
    uniform orderkey with the supplier-inequality as a join-side
    predicate — no row explosion, each (order, supplier) emits at
    most once. `late`/`alllf` are deduped (order, supplier) pairs
    (two longs per row through the shuffles); the finished-order
    filter prunes at the orders scan and rides a broadcast into
    lineitem. (The canonical commit/receipt-date lateness becomes a
    ship-60-days-after-order test — the testdata carries no
    commitdate — preserving the identical semi/anti plan.)"""
    fo = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lf = l.join(fo, l["l_orderkey"] == fo["o_orderkey"])
    alllf = lf.select("l_orderkey", "l_suppkey").distinct()
    late = (
        lf.filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    l2 = alllf.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
    )
    l1 = (
        late.join(F.broadcast(s), late["l_suppkey"] == s["s_suppkey"])
        .join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
    )
    return l1.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


@register(
    "tpch_q22_dormant_customer_balance",
    """
WITH pos AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_cents
  FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
st AS (SELECT SUM(bal_cents) AS s, COUNT(*) AS n
       FROM pos WHERE bal_cents > 0)
SELECT CAST(pos.c_nationkey AS BIGINT) AS cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(pos.bal_cents) AS BIGINT) AS totacctbal_cents
FROM pos, st
WHERE pos.bal_cents * st.n > st.s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = pos.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY pos.c_nationkey
""",
)
def tpch_q22_dormant_customer_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H q22 shape (global sales opportunity): per country,
    wealthy-but-dormant customers — balance above the cohort's
    positive-balance average, no order since 1999. The scalar average
    is decorrelated into a one-row (sum, count) fold cross-joined
    back (broadcast, one row per partition — the allowlisted scalar
    idiom), and above-average is tested as bal*n > sum in exact
    integer cents, so the threshold is float-free in both engines.
    Dormancy is a LEFT ANTI join against date-pruned orders projected
    to the single custkey column. (The spec's phone-prefix country
    code becomes the nation key — the testdata carries no phone — and
    "no orders ever" becomes "no orders since 1999" because the
    generator gives every customer at least one order.)"""
    cohort = (1, 3, 5, 7, 9, 11, 13)
    pos = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*cohort)
    ).select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    st = pos.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        pos.crossJoin(F.broadcast(st))
        .filter(F.col("bal_cents") * F.col("n") > F.col("s"))
        .join(recent, pos["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("totacctbal_cents"),
        )
    )


# --------------------------------------------------------------------------
# Embedding-space clustering (exact integer-quantized k-means).
# --------------------------------------------------------------------------

from sressentials_spark.operators.cluster import (  # noqa: E402
    kmeans_oracle_ctes,
    kmeans_quantized,
)

_KMEANS_K = 8
_KMEANS_ITERS = 3
_KMEANS_SQL = kmeans_oracle_ctes(k=_KMEANS_K, iters=_KMEANS_ITERS)


def _kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-cached through the shared artifact registry: the cluster
    # and profile queries (and repeat calls) share ONE run of the
    # 3-round iteration instead of re-collecting centroids each time —
    # the "fit once, serve many" shape; released by release_persisted.
    emb = load_table(spark, sf_dir, "embeddings")
    return get_or_build(
        spark,
        ("kmeans", sf_dir, _KMEANS_K, _KMEANS_ITERS),
        lambda: tracked_persist(
            kmeans_quantized(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)
        ),
    )


@register(
    "emb_kmeans_clusters",
    _KMEANS_SQL
    + """
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       CAST(dist_sq AS BIGINT) AS dist_sq
FROM afin
""",
)
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-quantized k-means (K=8, 3 Lloyd's rounds) over the
    embeddings table: per-vector final cluster id and squared integer
    distance. Quantizing to a 2^20 grid up front makes every round —
    distances, argmin tie-break, truncated-mean centroid updates —
    exact 64-bit integer arithmetic, so the clustering is bit-identical
    on any partition layout (float Lloyd's is not: both sums depend on
    order) and the DuckDB oracle can restate all three rounds
    verbatim. Per round: one codegen assignment pass (no shuffle), one
    map-side-combinable (cluster, dim) aggregate whose shuffle is
    O(K * dim * tasks), and one K*dim-row centroid collect — PageRank's
    scalar-traffic-only iterative shape (operators/cluster.py)."""
    return _kmeans_assignments(spark, sf_dir)


@register(
    "emb_kmeans_cluster_profile",
    _KMEANS_SQL
    + """
, lab AS (SELECT a.cluster, e.label, COUNT(*) AS ln
          FROM afin a JOIN embeddings e ON a.vec_id = e.vec_id
          GROUP BY 1, 2),
tot AS (SELECT cluster, CAST(SUM(ln) AS BIGINT) AS n_vecs FROM lab GROUP BY 1),
inr AS (SELECT cluster, CAST(SUM(dist_sq) AS BIGINT) AS inertia
        FROM afin GROUP BY 1),
top AS (SELECT cluster, CAST(label AS BIGINT) AS top_label,
               CAST(ln AS BIGINT) AS top_label_n,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY ln DESC, label) AS rn
        FROM lab)
SELECT tot.cluster, tot.n_vecs, inr.inertia, top.top_label, top.top_label_n
FROM tot JOIN inr ON tot.cluster = inr.cluster
JOIN top ON tot.cluster = top.cluster
WHERE top.rn = 1
""",
)
def emb_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality profile of the k-means run: per cluster, member
    count, total integer inertia, and the dominant ground-truth label
    with its count (ties to the lowest label) — the purity diagnostic
    that says whether embedding clusters track the labeled structure.
    One uniform vec_id join to fetch labels, then two small aggregates
    over at most K*|labels| rows; the window runs on a K-row frame."""
    asg = _kmeans_assignments(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    lab = (
        asg.join(emb, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("ln"))
    )
    tot = lab.groupBy("cluster").agg(F.sum("ln").alias("n_vecs"))
    inr = asg.groupBy("cluster").agg(F.sum("dist_sq").alias("inertia"))
    w = Window.partitionBy("cluster").orderBy(F.desc("ln"), F.asc("label"))
    top = (
        lab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").alias("top_label"),
            F.col("ln").alias("top_label_n"),
        )
    )
    return (
        tot.join(inr, "cluster")
        .join(top, "cluster")
        .select("cluster", "n_vecs", "inertia", "top_label", "top_label_n")
    )


_SEMDEDUP_SQL_SUFFIX = """
, sq AS (SELECT e.vec_id, a.cluster,
                list_transform(e.embedding,
                  x -> CAST(ROUND(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS q
         FROM embeddings e JOIN afin a USING (vec_id)),
sn AS (SELECT vec_id, cluster, q,
              list_sum([q[i] * q[i] for i in generate_series(1, len(q))]) AS n2
       FROM sq),
prs AS (SELECT b.vec_id AS vec_id, a.vec_id AS prior_id,
               list_sum([a.q[i] * b.q[i]
                         for i in generate_series(1, len(a.q))]) AS dot,
               a.n2 AS an2, b.n2 AS bn2
        FROM sn a JOIN sn b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE a.n2 > 0 AND b.n2 > 0),
hit AS (SELECT vec_id, prior_id FROM prs
        WHERE dot > 0 AND {q2} * dot * dot >= {p2} * an2 * bn2),
ag AS (SELECT vec_id, MIN(prior_id) AS dup_of, COUNT(*) AS n
       FROM hit GROUP BY 1)
SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
       CASE WHEN ag.vec_id IS NULL THEN 'kept'
            ELSE 'semantic_dup' END AS status,
       CAST(COALESCE(ag.dup_of, -1) AS BIGINT) AS dup_of,
       CAST(COALESCE(ag.n, 0) AS BIGINT) AS n_prior_matches
FROM sn s LEFT JOIN ag ON s.vec_id = ag.vec_id
"""


@register(
    "dedup_semantic_clusters",
    _KMEANS_SQL
    + _SEMDEDUP_SQL_SUFFIX.format(
        scale=D.SEMDEDUP_SCALE,
        p2=D.SEMDEDUP_COS[0] ** 2,
        q2=D.SEMDEDUP_COS[1] ** 2,
    ),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup with the k-means
    clustering as the candidate generator — pairwise cosine runs only
    WITHIN clusters, so with K scaled to corpus size the total pair
    work is linear, not quadratic. Reuses the session-cached exact
    integer k-means fit (same artifact as `emb_kmeans_clusters`: fit
    once, serve many); the duplicate test is exact integer
    cross-multiplication on a 2^10 grid, so the keep/drop verdicts —
    lowest-id representative per near-dup neighborhood — are
    bit-identical in both engines. Completes the dedup-strategy
    family: exact hash, MinHash-LSH, SimHash, banded embedding LSH,
    connected components, and now cluster-bounded semantic
    (operators/dedup.py::semantic_dedup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.semantic_dedup(emb, _kmeans_assignments(spark, sf_dir))


@register(
    "streaming_latest_state_by_user",
    """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_event_type
FROM (SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
""",
)
def streaming_latest_state_by_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC current-state table: the latest event per user,
    maintained as a streaming aggregation over the changelog replay —
    the materialized-view shape behind feature stores. The winner is a
    total-ordered max(struct(ts, event_id, ...)) (no max_by tie
    nondeterminism), one struct of state per key, stateful shuffle on
    the uniform user_id; the oracle restates it as the equivalent
    ROW_NUMBER window. Complete-mode memory sink is the documented
    harness-only choice for this small-aggregate output class
    (streaming/cdc.py)."""
    from sressentials_spark.streaming.cdc import run_latest_state_batch

    return run_latest_state_batch(spark, sf_dir)


@register(
    "tpch_q16_supplier_part_breadth",
    """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
excl AS (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#13'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM excl)
GROUP BY 1, 2, 3
""",
)
def tpch_q16_supplier_part_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape (parts/supplier relationship): how many distinct
    non-excluded suppliers can ship each qualifying (brand, type, size)
    — ADAPTED: the testdata has no partsupp table, so the supplier-part
    catalog is derived as the DISTINCT (partkey, suppkey) pairs
    actually observed in lineitem (one extra map-side-combinable
    dedup over the fact scan; the rest of the plan is canonical). The
    NOT IN exclusion list (name-pattern suppliers — the spec's
    complaints-comment analog) is tiny and becomes a broadcast LEFT
    ANTI join; the part slice broadcasts into the pair set; the final
    COUNT(DISTINCT suppkey) shuffles once on the low-cardinality
    (brand, type, size) key with suppkey-level partial dedup."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct()
    excl = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 36)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        l.join(F.broadcast(excl), l["l_suppkey"] == excl["s_suppkey"], "left_anti")
        .join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "events_cumulative_distinct_users",
    """
WITH first_day AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id),
new_users AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_new
              FROM first_day GROUP BY d),
daily AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1)
SELECT daily.d,
       daily.n_events,
       COALESCE(new_users.n_new, 0) AS n_new_users,
       CAST(SUM(COALESCE(new_users.n_new, 0))
            OVER (ORDER BY daily.d) AS BIGINT) AS cum_distinct_users
FROM daily LEFT JOIN new_users ON daily.d = new_users.d
""",
)
def events_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience-growth curve: per day, event volume, first-seen users,
    and the CUMULATIVE distinct-user count — computed exactly without
    any running set-union: a running COUNT DISTINCT is just the
    running sum of first-occurrence days (each user counts on exactly
    one day, their MIN date). Two uniform shuffles (per-user min, then
    per-day rollups); the only window runs over the |days| frame —
    thousands of rows at any corpus scale, explicitly NOT the
    per-event table (which never meets a window here)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_day = e.groupBy("user_id").agg(F.min("d").alias("d"))
    new_users = first_day.groupBy("d").agg(F.count(F.lit(1)).alias("n_new"))
    daily = e.groupBy("d").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(new_users, "d", "left")
        .select(
            "d",
            "n_events",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new_users"),
        )
        .withColumn("cum_distinct_users", F.sum("n_new_users").over(w))
    )


def _emb_decon_oracle(threshold: float) -> str:
    """Asymmetric (corpus x benchmark) restatement of
    ``dedup.embedding_decontaminate`` — the sign bands of
    ``_emb_lsh_oracle``, with the benchmark flag ``vec_id % 20 = 0``
    and a per-corpus-vector hit rollup."""
    flag = "(vec_id % 20 = 0) AS is_bench,\n                   "
    return f"""
{_emb_bands_ctes(flag, "is_bench, ")}
cand AS (SELECT DISTINCT c.vec_id AS corpus_id, b.vec_id AS bench_id
         FROM bands c JOIN bands b
           ON c.i = b.i AND c.val = b.val
          AND NOT c.is_bench AND b.is_bench),
hits AS (SELECT corpus_id, bench_id,
                {_cos_sql('x.embedding', 'y.embedding')} AS cosine
         FROM cand JOIN embeddings x ON corpus_id = x.vec_id
                   JOIN embeddings y ON bench_id = y.vec_id)
SELECT corpus_id AS vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_benchmark_hits,
       MAX(cosine) AS max_cosine
FROM hits WHERE cosine >= {threshold}
GROUP BY corpus_id
"""


@register("curation_embedding_decontaminate", _emb_decon_oracle(0.35))
def curation_embedding_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space decontamination: corpus vectors whose cosine to
    any held-out benchmark vector (here the deterministic vec_id%20
    slice) reaches 0.35 — the paraphrase-leakage gate the n-gram
    decontaminator can't see. Banded-LSH candidates with the SMALL
    benchmark side broadcast (corpus band rows never shuffle), exact
    fold-cosine verification, per-vector hit rollup; precision 1,
    recall bounded by the shared LSH band constants
    (operators/dedup.py::embedding_decontaminate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_decontaminate(
        emb, (F.col("vec_id") % 20) == 0, threshold=0.35
    )


# Synthetic partsupp: the testdata ships no partsupp table, so the
# supplier-part catalog is derived as the DISTINCT (partkey, suppkey)
# pairs observed in lineitem (same adaptation as tpch_q16), and the two
# VALUE columns q11/q20 need are synthesized with pure int64 arithmetic
# that both engines evaluate identically:
#   ps_availqty         = (partkey*7 + suppkey*3) % 9999 + 1     (1..9999)
#   ps_supplycost_cents = (partkey*13 + suppkey*5) % 100000      (fixed-point)
_PARTSUPP_CTE = """
partsupp AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         (l_partkey * 7 + l_suppkey * 3) % 9999 + 1 AS ps_availqty,
         (l_partkey * 13 + l_suppkey * 5) % 100000 AS ps_supplycost_cents
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
"""


def _synthetic_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return pairs.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        (F.col("l_partkey") * 7 + F.col("l_suppkey") * 3) % 9999 + 1,
        ((F.col("l_partkey") * 13 + F.col("l_suppkey") * 5) % 100000),
    ).toDF("ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost_cents")


@register(
    "tpch_q11_part_value_concentration",
    f"""
WITH {_PARTSUPP_CTE.strip()},
sup AS (SELECT s_suppkey FROM supplier JOIN nation
          ON s_nationkey = n_nationkey WHERE n_name LIKE '%0'),
pv AS (SELECT ps_partkey,
              SUM(ps_supplycost_cents * ps_availqty) AS value_cents
       FROM partsupp JOIN sup ON ps_suppkey = s_suppkey
       GROUP BY ps_partkey),
tot AS (SELECT SUM(value_cents) AS total_cents FROM pv)
SELECT ps_partkey,
       CAST(value_cents AS BIGINT) AS value_cents,
       CAST(value_cents AS BIGINT) / 100.0 AS part_value
FROM pv, tot
WHERE value_cents * 1000 > total_cents
""",
)
def tpch_q11_part_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H q11 shape (important-stock identification): parts whose
    inventory value held by one nation group's suppliers exceeds 0.1%
    of that group's total — ADAPTED: partsupp is synthesized from the
    observed lineitem pairs with deterministic int64 value columns
    (see _PARTSUPP_CTE; the testdata has no partsupp). The nation
    slice is the '%0' name group so the filter survives the tiny
    supplier table at small SF. The supplier slice broadcasts into
    the pair set; per-part value sums shuffle once on partkey; the
    grand total is ONE scalar row cross-joined (broadcast) back —
    the correlated scalar subquery decorrelated — and the threshold
    test is exact integer math (value*1000 > total), no float
    division in the predicate in either engine."""
    ps = _synthetic_partsupp(spark, sf_dir)
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").like("%0")
    ).select("n_nationkey")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    pv = (
        ps.join(F.broadcast(s), ps["ps_suppkey"] == s["s_suppkey"])
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents") * F.col("ps_availqty")
            ).alias("value_cents")
        )
    )
    tot = pv.agg(F.sum("value_cents").alias("total_cents"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            "ps_partkey",
            "value_cents",
            (F.col("value_cents") / 100.0).alias("part_value"),
        )
    )


@register(
    "tpch_q20_excess_inventory_supplier",
    f"""
WITH {_PARTSUPP_CTE.strip()},
qty AS (SELECT l_partkey, l_suppkey,
               SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2),
cand AS (SELECT DISTINCT ps_suppkey
         FROM partsupp
         JOIN part ON p_partkey = ps_partkey AND p_name LIKE 'large%'
         JOIN qty ON qty.l_partkey = ps_partkey
                 AND qty.l_suppkey = ps_suppkey
         WHERE ps_availqty * 200 > qty_cents)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT ps_suppkey FROM cand)
""",
)
def tpch_q20_excess_inventory_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H q20 shape (excess-inventory suppliers): suppliers holding
    more than half a year's shipped quantity of any 'large%' part —
    ADAPTED: partsupp synthesized as in q11/q16; the final nation
    predicate is dropped because the tiny supplier table would make
    it vacuous at small SF (it would be one more broadcast filter,
    nothing structural). The name-sliced part dimension broadcasts
    into the pair set; the shipped-quantity rollup shuffles lineitem
    once on the (partkey, suppkey) key it is already grouped by; the
    half-of-shipped test is exact fixed-point integer math
    (availqty*200 > qty_cents); survivors collapse to DISTINCT
    suppkeys that drive a broadcast LEFT SEMI into supplier, so the
    supplier table is never shuffled."""
    ps = _synthetic_partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("large%")
    ).select("p_partkey")
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias(
                "qty_cents"
            )
        )
    )
    cand = (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(
            qty,
            (qty["l_partkey"] == ps["ps_partkey"])
            & (qty["l_suppkey"] == ps["ps_suppkey"]),
        )
        .filter(F.col("ps_availqty") * 200 > F.col("qty_cents"))
        .select("ps_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(
            F.broadcast(cand), s["s_suppkey"] == cand["ps_suppkey"], "left_semi"
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "streaming_cdc_upsert_foreachbatch",
    """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_event_type
FROM (SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
""",
)
def streaming_cdc_upsert_foreachbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CDC current-state table maintained the PRODUCTION way: a
    genuinely multi-batch replay (staged event-time-ordered arrivals,
    one file per trigger) where each micro-batch is folded into an
    on-disk keyed state table by a ``foreachBatch`` latest-wins MERGE
    — per-batch work O(batch + |keys|), never O(event history) — the
    upsert a Delta/Iceberg MERGE runs with snapshot isolation at
    scale. Same oracle as the complete-mode streaming aggregate twin
    (`streaming_latest_state_by_user`): the two implementations and
    the relational restatement must agree exactly
    (streaming/cdc.py::run_latest_state_foreachbatch)."""
    from sressentials_spark.streaming.cdc import run_latest_state_foreachbatch

    return run_latest_state_foreachbatch(spark, sf_dir)


@register(
    "streaming_cdc_snapshot_merge",
    """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_event_type
FROM (SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
WHERE rn = 1
""",
)
def streaming_cdc_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC current-state table with REAL snapshot isolation: each
    micro-batch commits as a copy-on-write MERGE version on a
    manifest-snapshot table (atomic link-published manifest per batch;
    only key-stats-intersecting files rewrite; the whole batch history
    stays time-travelable) — the upgrade the pointer-swap twin's own
    docstring defers to "the table format's snapshot commit".
    Latest-wins resolves against the head's contested keys before the
    merge, so arrival order never matters. Shares the relational
    oracle with both other CDC faces — all three implementations must
    agree exactly (streaming/cdc.py::run_latest_state_snapshot_merge)."""
    from sressentials_spark.streaming.cdc import run_latest_state_snapshot_merge

    return run_latest_state_snapshot_merge(spark, sf_dir)


@register(
    "streaming_rollup_mv_foreachbatch",
    """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
""",
)
def streaming_rollup_mv_foreachbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance: the daily x type
    rollup kept warm by folding each micro-batch's PARTIAL aggregate
    into an on-disk MV (read, union, re-sum per key, rewrite) — the
    additive complement of the latest-wins CDC merge, and the shape
    that makes a 100 TB/day serving rollup affordable: per-batch work
    is O(batch + |MV keys|), never O(event history). Additive merges
    have the retry hazard latest-wins doesn't (a re-run batch
    double-counts), so the MV commit carries a committed-batch
    high-water mark making retries no-ops — pinned by a hand-replayed
    duplicate batch in tests/test_streaming_mv.py. Genuinely
    multi-batch (staged ordered arrivals, one file per trigger); must
    equal the one-shot relational rollup exactly
    (streaming/rollup_mv.py)."""
    from sressentials_spark.streaming.rollup_mv import (
        run_rollup_mv_foreachbatch,
    )

    return run_rollup_mv_foreachbatch(spark, sf_dir)


@register(
    "orc_documents_source",
    """
SELECT doc_id, lang, n_chars, md5(text) AS text_md5
FROM documents
""",
)
def orc_documents_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC corpus round-trip (columnar format breadth beside the
    parquet/CSV/JSONL connectors): the corpus rendered once through
    Spark's other built-in columnar format and scanned back — ORC
    ships its own min/max stripe indexes and filter pushdown, so the
    engine's scan story is format-agnostic (PushedFilters on the ORC
    scan pinned by tests/test_columnar_layout.py). Round-trip checked
    field-for-field via md5 against the parquet ground truth
    (sources/columnar.py::ensure_documents_orc)."""
    from sressentials_spark.sources.columnar import ensure_documents_orc

    path = ensure_documents_orc(spark, sf_dir)
    return spark.read.orc(path).select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


@register(
    "maintenance_compact_small_files",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction as a first-class maintenance operator: the
    corpus staged as 64 tiny parquet files (the streaming-sink /
    over-parallel-write pathology), rewritten to manifest-sized target
    files by a SHUFFLE-FREE plan (``coalesce`` concatenates input
    partitions; no exchange — pinned by tests/test_maintenance.py),
    then scanned back. Content must round-trip exactly — compaction
    changes layout, never data. At 100 TB this is the nightly job that
    keeps per-file scan overhead and listing pressure bounded
    (operators/maintenance.py::compact_small_files)."""
    import os

    from sressentials_spark.operators import maintenance as MT
    from sressentials_spark.scratch import scratch_dir

    def _build() -> str:
        d = scratch_dir("sressentials_compact_")
        small = os.path.join(d, "small")
        compacted = os.path.join(d, "compacted")
        load_table(spark, sf_dir, "documents").repartition(64).write.mode(
            "overwrite"
        ).parquet(small)
        total = sum(b for _, b in MT.file_manifest(small))
        stats = MT.compact_small_files(
            spark, small, compacted, target_bytes=-(-total // 4)
        )
        # Explicit raise, not assert: under `python -O` an assert is a
        # no-op and a silently non-compacting rewrite would be cached
        # and served as the query result.
        if stats["files_after"] >= stats["files_before"] // 8:
            raise ValueError(f"compaction did not reduce file count: {stats}")
        return compacted

    path = get_or_build(spark, ("compact_docs", sf_dir), _build, tier="disk")
    return spark.read.parquet(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "maintenance_partition_overwrite_rebuild",
    """
SELECT event_id, user_id, ts, event_type, value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-20'
""",
)
def maintenance_partition_overwrite_rebuild(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-partition repair on the day-partitioned fact layout:
    deliberately clobber one day (half its rows, values zeroed — a
    botched backfill), then rebuild it from the source of truth under
    ``partitionOverwriteMode=dynamic`` — ``overwrite`` replaces ONLY
    the partitions present in the written data, so the other 29 days'
    files are never listed, read, or rewritten (pinned by file mtimes
    in tests/test_maintenance.py; STATIC mode would truncate the whole
    table). Returns the repaired day re-read from the layout; the
    oracle asserts it equals the source exactly. This idempotent
    day-swap is the backfill/repair verb on a date-partitioned 100 TB
    table (operators/maintenance.py::corrupt_then_rebuild_day). The
    drill runs against its OWN layout copy
    (ensure_events_partitioned_repair), never the shared pruned-week
    artifact — a run dying between corrupt and rebuild must not poison
    other readers of the session-cached layout."""
    from sressentials_spark.operators.maintenance import (
        corrupt_then_rebuild_day,
    )
    from sressentials_spark.sources.columnar import (
        ensure_events_partitioned_repair,
    )

    path = ensure_events_partitioned_repair(spark, sf_dir)
    return corrupt_then_rebuild_day(spark, sf_dir, path, "2024-01-20")


@register(
    "schema_evolution_documents_source",
    f"""
WITH {_split_cte("documents", "doc_id")}
SELECT doc_id, lang, n_chars,
       CASE WHEN doc_id >= (SELECT s FROM split)
            THEN CASE WHEN n_chars >= 500 THEN 'long' ELSE 'short' END
       END AS quality_tier
FROM documents
""",
)
def schema_evolution_documents_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive schema evolution across file generations: the older
    70% of the corpus is parquet WITHOUT ``quality_tier``, the newer
    30% carries it (long-lived tables accrete enrichment columns;
    history is never rewritten). ``mergeSchema=true`` unions the
    footers at planning time and NULL-fills the column for
    pre-evolution files — no rewrite, no migration job; the reader
    owns compatibility. The oracle restates the generation split
    relationally: NULL tier below the split id, computed tier above
    (sources/columnar.py::ensure_documents_generations)."""
    from sressentials_spark.sources.columnar import (
        ensure_documents_generations,
    )

    path = ensure_documents_generations(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("doc_id", "lang", "n_chars", "quality_tier")
    )


@register(
    "curation_domain_mixture",
    """
WITH per AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY source, lang
),
s AS (
  SELECT *, CAST(ROUND(SQRT(n_docs) * 1000) AS BIGINT) AS sm FROM per
)
SELECT source, lang, n_docs, sum_chars,
       CAST((1000 * n_docs) // (SELECT SUM(n_docs) FROM per) AS BIGINT)
         AS share_permille,
       CAST((1000 * sm) // (SELECT SUM(sm) FROM s) AS BIGINT)
         AS mix_permille
FROM s
""",
)
def curation_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture design: temperature-reweighted domain sampling
    weights per (source, lang). Proportional sampling (tau=1) lets
    head domains drown rare ones; tau=0.5 — weight proportional to
    sqrt(share), the exponent family used for multilingual mixture
    balancing in public LM training recipes (mT5/XLM-R temperature
    sampling) — compresses the range so tail domains surface. Exact
    integer outputs by construction: IEEE-754 sqrt is correctly
    rounded (bit-identical across engines), scaled to integer milli-
    units before the permille floor-division, so the oracle compare is
    exact, not epsilon. One tiny grouped aggregate plus a broadcast
    scalar fold — the output is O(domains), never O(corpus)."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn(
            "sm", F.round(F.sqrt(F.col("n_docs")) * 1000).cast("long")
        )
    )
    totals = per.agg(
        F.sum("n_docs").alias("_tot_docs"), F.sum("sm").alias("_tot_sm")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "lang",
            "n_docs",
            "sum_chars",
            F.expr("(1000 * n_docs) div _tot_docs").alias("share_permille"),
            F.expr("(1000 * sm) div _tot_sm").alias("mix_permille"),
        )
    )


@register(
    "partitioned_events_pruned_week",
    """
SELECT CAST(ts AS DATE) AS d, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY 1, 2
""",
)
def partitioned_events_pruned_week(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-pruned fact scan: events rendered once into the
    canonical 100 TB time-series layout (``d=YYYY-MM-DD/`` parquet
    directories, one file per day — `repartition("d")` before the
    partitioned write so the layout doesn't self-inflict the
    small-files problem), then a one-week rollup whose date predicate
    is a PARTITION filter — the 23 non-matching day directories are
    pruned at planning time, never listed into tasks (PartitionFilters
    pinned by tests/test_columnar_layout.py). At cluster scale this
    layout (plus the hourly variant) is what turns "scan 3 years" into
    "scan 7 days" (sources/columnar.py::pruned_week_rollup)."""
    from sressentials_spark.sources.columnar import pruned_week_rollup

    return pruned_week_rollup(spark, sf_dir)


_STREAM_INGEST_ORACLE = f"""
WITH {_SHINGLE_CTE},
{_split_cte("documents", "doc_id")},
j AS (
  SELECT doc_a, doc_b
  FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
),
newd AS (SELECT doc_id FROM documents, split WHERE doc_id >= s),
agg AS (
  SELECT doc_b AS doc_id, CAST(COUNT(*) AS BIGINT) AS nh
  FROM j, split
  WHERE doc_b >= s AND doc_a < s
  GROUP BY doc_b
)
SELECT newd.doc_id,
       CAST(COALESCE(nh, 0) AS BIGINT) AS n_hist_matches,
       CASE WHEN COALESCE(nh, 0) > 0 THEN 'dup_of_history'
            ELSE 'kept' END AS status
FROM newd LEFT JOIN agg ON newd.doc_id = agg.doc_id
"""


@register("streaming_dedup_ingest_foreachbatch", _STREAM_INGEST_ORACLE)
def streaming_dedup_ingest_foreachbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming near-dup triage AT INGEST: document arrivals replay
    one file per micro-batch and each batch is MinHash-triaged against
    the persisted bucketed dedup index inside ``foreachBatch``
    (history-only verdicts — batching-invariant, so the union over
    micro-batches shares the one-shot exact-Jaccard oracle), verdicts
    appended to a parquet sink. Per-batch cost is O(batch), never
    O(corpus): the batch pays its own shingles/signatures and one
    bucket-aligned band join whose index side never shuffles — the
    shape that runs synchronously in a 100 TB/day ingest path, with
    new-vs-new dups left to the nightly compaction
    (`dedup_incremental_ingest`)
    (streaming/dedup.py::run_minhash_ingest_stream)."""
    from sressentials_spark.streaming.dedup import run_minhash_ingest_stream

    return run_minhash_ingest_stream(spark, sf_dir)


@register(
    "clustered_lineitem_month_scan",
    """
SELECT CAST(l_shipdate AS DATE) AS d,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY 1
""",
)
def clustered_lineitem_month_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Statistics-skipping fact scan: lineitem rendered once
    RANGE-CLUSTERED on l_shipdate (repartitionByRange +
    sortWithinPartitions, so data files carry disjoint shipdate
    ranges in their parquet footers), then a one-month rollup whose
    pushed-down time predicate lets the reader skip every row group
    whose min/max miss the month — file-level skipping WITHOUT
    partition directories, the complement of
    `partitioned_events_pruned_week` and what Delta/Iceberg
    data-skipping / Z-ordering generalize (disjointness + pushdown
    pinned by tests/test_columnar_layout.py;
    sources/columnar.py::clustered_month_rollup)."""
    from sressentials_spark.sources.columnar import clustered_month_rollup

    return clustered_month_rollup(spark, sf_dir)


@register(
    "maintenance_compact_clustered",
    ORACLE_SQL["clustered_lineitem_month_scan"],
)
def maintenance_compact_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-preserving compaction, end to end: the
    shipdate-range-clustered lineitem layout compacted to half its
    file count through CONTIGUOUS listing-order bins
    (operators/maintenance.py::compact_clustered_files — plain
    coalesce compaction interleaves ranges and kills footer skipping;
    the test that caught that is why this variant exists), then the
    same one-month rollup as `clustered_lineitem_month_scan` run
    against the COMPACTED layout. Same oracle: compaction changes
    layout, never data — and the disjoint per-file ranges that make
    the month scan skip files survive it (pinned by
    tests/test_maintenance.py)."""
    import os

    from sressentials_spark.operators import maintenance as MT
    from sressentials_spark.scratch import scratch_dir
    from sressentials_spark.sources.columnar import ensure_lineitem_clustered

    def _build() -> str:
        src = ensure_lineitem_clustered(spark, sf_dir)
        total = sum(b for _, b in MT.file_manifest(src))
        out = os.path.join(scratch_dir("sressentials_compact_clust_"), "out")
        stats = MT.compact_clustered_files(
            spark, src, out, target_bytes=-(-total // 2)
        )
        # Explicit raise (assert is stripped under `python -O`).
        if stats["files_after"] >= stats["files_before"]:
            raise ValueError(f"compaction did not reduce file count: {stats}")
        return out

    path = get_or_build(spark, ("compact_clustered", sf_dir), _build, tier="disk")
    li = spark.read.parquet(path)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / 100.0
            ).alias("revenue"),
        )
    )


@register(
    "sketch_quantile_error_eval",
    K.quantile_error_eval_oracle_sql("events", "value"),
)
def sketch_quantile_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine quality eval for the histogram quantile sketch (the
    sketch-tier sibling of `sim_*_recall_at_k`): per percentile, the
    sketch's bin vs the EXACT percentile, with `in_bin` (provably 1 —
    the exact value must land in the chosen bin, pinned by
    tests/test_sketch.py) and the measured `err_cents` against the
    bin-resolution bound. The exact side is itself scale-shaped:
    cent-quantized counts are map-side combinable and the cumulative
    window sees at most 100·bins bounded rows
    (operators/sketch.py::quantile_error_eval)."""
    return K.quantile_error_eval(load_table(spark, sf_dir, "events"), "value")


@register(
    "sketch_hll_set_algebra",
    K.hll_set_algebra_oracle_sql(
        "events",
        "user_id",
        "event_type = 'view'",
        "event_type = 'purchase'",
    ),
)
def sketch_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: |viewers|, |purchasers|, |either| and — by
    inclusion-exclusion over the registers alone — |both|, beside the
    exact intersection for in-engine error measurement. Union is the
    HLL's native exact merge (elementwise register max); intersection
    is the standard derived estimate whose error compounds from all
    three sketches — exactly why audience-overlap pipelines persist
    REGISTERS per segment (≤ m rows each, any input size) and answer
    overlap questions by register folds, never by re-scanning events
    (operators/sketch.py::hll_set_algebra)."""
    return K.hll_set_algebra(
        load_table(spark, sf_dir, "events"),
        "user_id",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
    )


@register(
    "zorder_lineitem_part_band_scan",
    """
SELECT l_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM lineitem
WHERE l_partkey BETWEEN 10 AND 19
GROUP BY 1
""",
)
def zorder_lineitem_part_band_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-column data skipping from ONE sort order: lineitem rendered
    once Z-ORDER-clustered on (l_partkey, l_shipdate) — both
    dimensions normalized onto a common grid, Morton bit-interleaved
    with pure shift/add codegen, range-partitioned and sorted on the
    z-value — then a narrow partkey-band rollup whose pushed-down
    predicate meets per-file footer ranges covering only ~half the
    partkey domain EACH, while the SAME files also localize shipdate
    (a time predicate skips too). Single-column clustering gives its
    column perfect skipping and the other column none; Z-order trades
    a little of one for usable skipping on both — the hand-built form
    of Delta/Iceberg Z-ordering (both-dimension locality pinned by
    tests/test_columnar_layout.py;
    sources/columnar.py::zorder_part_band_rollup)."""
    from sressentials_spark.sources.columnar import zorder_part_band_rollup

    return zorder_part_band_rollup(spark, sf_dir)


@register(
    "asof_cogrouped_purchase_error",
    """
SELECT e.event_id, e.user_id, e.ts AS error_ts,
       (SELECT max(p.ts) FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
          AND p.ts <= e.ts) AS last_purchase_ts
FROM events e WHERE e.event_type = 'error'
""",
)
def asof_cogrouped_purchase_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The as-of association through Spark's COGROUPED Arrow path:
    errors and purchases shuffle once on a BUCKETED user key (64
    buckets, not one Python call per user — per-group interpreter
    overhead is the cogroup tax, so groups are sized to amortize it)
    and each bucket runs one vectorized ``pd.merge_asof(...,
    by="user_id")`` inside ``cogroup(...).applyInPandas``. Same
    oracle and result as the window composition
    (`asof_last_purchase_before_error`), which remains the PREFERRED
    plan (no Python in the path). This twin exists for the per-key
    logic SQL can't express — as-of with tolerance bands, custom
    tie-breaking, per-key model scoring — and pins the shape it
    should take: bucketed keys, one Arrow batch per bucket,
    vectorized group-aware kernels, never a collect, never a
    row-at-a-time UDF. A bucket with errors but no purchases arrives
    as a COLUMNLESS empty frame (guarded — all-null matches)."""
    import pandas as pd

    buckets = 64
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.pmod("user_id", F.lit(buckets)).alias("b"),
        "user_id",
        "event_id",
        "ts",
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.pmod("user_id", F.lit(buckets)).alias("b"), "user_id", "ts"
    )
    cols = ["event_id", "user_id", "error_ts", "last_purchase_ts"]

    def asof(err_pdf: pd.DataFrame, pur_pdf: pd.DataFrame) -> pd.DataFrame:
        if err_pdf.empty:
            return pd.DataFrame(
                {
                    "event_id": pd.Series(dtype="int64"),
                    "user_id": pd.Series(dtype="int64"),
                    "error_ts": pd.Series(dtype="datetime64[us]"),
                    "last_purchase_ts": pd.Series(dtype="datetime64[us]"),
                }
            )
        err = err_pdf.sort_values("ts", kind="mergesort")
        if pur_pdf.empty or "ts" not in pur_pdf.columns:
            out = err.rename(columns={"ts": "error_ts"})
            out["last_purchase_ts"] = pd.Series(
                pd.NaT, dtype="datetime64[us]", index=out.index
            )
            return out[cols]
        pur = pur_pdf.sort_values("ts", kind="mergesort").assign(
            last_purchase_ts=lambda d: d["ts"]
        )[["ts", "user_id", "last_purchase_ts"]]
        merged = pd.merge_asof(
            err,
            pur,
            on="ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        )
        return merged.rename(columns={"ts": "error_ts"})[cols]

    return (
        errors.groupBy("b")
        .cogroup(purchases.groupBy("b"))
        .applyInPandas(
            asof,
            "event_id long, user_id long, error_ts timestamp, "
            "last_purchase_ts timestamp",
        )
        .select("event_id", "user_id", "error_ts", "last_purchase_ts")
    )


@register(
    "streaming_ivfpq_topk_serving",
    ORACLE_SQL["sim_pq_adc_topk_ivf"],
)
def streaming_ivfpq_topk_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch ANN serving — the online tier in front of the
    persisted IVF-PQ index stack: query batches arrive as a file
    stream, each micro-batch resolves probes from the manifest of v1
    of the PQ rebalance store, scans only those cells' files of
    the ~32x-compressed PQ code table, ranks by broadcast ADC lookup
    inside ``foreachBatch``, and appends its top-k to a parquet sink
    (streaming/ann_serving.py). Per batch: O(queries x nprobe/n_cells
    x compressed corpus), no rebuild, no full scan — the request-path
    cost of a vector store at 100 TB. Every query is scored
    independently against the same frozen artifacts, so the union of
    per-batch top-ks equals the one-shot batch IVFADC search and this
    query SHARES ``sim_pq_adc_topk_ivf``'s oracle verbatim (row-level
    batching invariance also pinned by
    tests/test_streaming_ann_serving.py)."""
    from sressentials_spark.streaming.ann_serving import (
        run_ivfpq_serving_stream,
    )

    return run_ivfpq_serving_stream(
        spark,
        sf_dir,
        _ivfpq_rebalanced_index_path(spark, sf_dir),
        1,
        _TOPK_QUERY_IDS,
        topk=10,
    )


# --------------------------------------------------------------------------
# Round 7: DSIR importance resampling + distribution-drift monitoring
# --------------------------------------------------------------------------


@register(
    "curation_dsir_weights",
    C.dsir_importance_weights_oracle_sql(target_source="src0"),
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): score every
    document by how much more likely its unigrams are under the
    target domain's (``source = 'src0'``) smoothed bag-of-words model
    than under the raw pool's. The data-selection op that shifts a
    pretraining mixture toward a target domain without hand rules.
    Transcendental-free downstream of one micro-quantized ln per
    vocabulary term (operators/curation.py:dsir_importance_weights):
    per-document weights are exact BIGINT micronats, bit-equal to the
    DuckDB oracle. Scale: vocabulary-sized broadcast dim, term- and
    doc_id-keyed shuffles only."""
    return C.dsir_importance_weights(
        load_table(spark, sf_dir, "documents"), target_source="src0"
    )


@register(
    "curation_dsir_topk",
    f"""
WITH w AS ({C.dsir_importance_weights_oracle_sql(target_source="src0")})
SELECT doc_id, source, n_tokens, weight_micro
FROM w ORDER BY weight_micro DESC, doc_id LIMIT 100
""",
)
def curation_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance RESAMPLING step over the DSIR weights: the 100 most
    target-like documents under the total order (weight DESC, doc_id).
    Spark compiles the ordered LIMIT to TakeOrderedAndProject — each
    partition keeps a local top-100 heap and only k rows per partition
    reach the driver-side merge, so selection costs no global sort at
    any corpus size (pinned by tests/test_dsir_drift.py)."""
    w = C.dsir_importance_weights(
        load_table(spark, sf_dir, "documents"), target_source="src0"
    )
    return (
        w.orderBy(F.desc("weight_micro"), "doc_id")
        .limit(100)
        .select("doc_id", "source", "n_tokens", "weight_micro")
    )


from sressentials_spark.operators.drift import (  # noqa: E402
    drift_sketch,
    histogram_drift,
    histogram_drift_oracle_sql,
    histogram_drift_trend_oracle_sql,
)

#: Reference/current cohort split for the drift audit: first half of
#: the events month vs second half (events span 2024-01-01..30).
_DRIFT_SPLIT_SPARK = "ts < timestamp'2024-01-16 00:00:00'"
_DRIFT_SPLIT_DUCK = "ts < TIMESTAMP '2024-01-16 00:00:00'"


@register(
    "audit_distribution_drift",
    histogram_drift_oracle_sql(split_sql=_DRIFT_SPLIT_DUCK),
)
def audit_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distribution drift of ``value`` between the
    first and second half of the month: fixed 10-bin histogram, PSI
    and total-variation distance with Laplace smoothing, alarm at
    PSI >= 0.25 — the promote-gate a pipeline evaluates before
    accepting a new data snapshot. One conditional-aggregation scan
    feeds both cohorts' histograms; everything after the first
    (group, bin) groupBy is histogram-sized
    (operators/drift.py:histogram_drift)."""
    return histogram_drift(
        load_table(spark, sf_dir, "events"), split_expr=_DRIFT_SPLIT_SPARK
    )


@register(
    "streaming_drift_monitor",
    histogram_drift_oracle_sql(split_sql=_DRIFT_SPLIT_DUCK),
)
def streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift audit as a LIVE monitor: both cohorts' histograms
    maintained in streaming state (the batch audit's own (type, bin,
    c_ref, c_cur) count table, |types| x 10 rows, additive micro-batch
    merge), PSI/TVD folded batch-side over the settled bins by the
    batch fold (streaming/sketch.py:run_sketch_stream with
    operators/drift.py:drift_sketch). Shares
    ``audit_distribution_drift``'s oracle verbatim — the streaming and
    batch execution models must agree bit-for-bit."""
    from sressentials_spark.streaming.sketch import run_sketch_stream

    return run_sketch_stream(
        spark, sf_dir, *drift_sketch(split_expr=_DRIFT_SPLIT_SPARK)
    )


@register("curation_perplexity_filter", C.unigram_logloss_oracle_sql())
def curation_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucket quality filter (CCNet recipe, unigram LM in
    place of KenLM): per-document cross-entropy under a corpus-trained
    unigram model in integer micronats/token, keep = at or below the
    uniform model's ln V (worse-than-random reads as the garbage
    tail). Same micro-quantized-ln machinery as the DSIR weights
    (operators/curation.py:unigram_logloss) — BIGINT-exact against
    the oracle, vocabulary-sized broadcast, term/doc_id shuffles
    only."""
    return C.unigram_logloss(load_table(spark, sf_dir, "documents"))


@register(
    "window_order_interarrival",
    """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
)
SELECT o_custkey AS custkey,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_orders,
       CAST(SUM(gap_days) AS BIGINT) AS sum_gap_days,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY o_custkey
""",
)
def window_order_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order inter-arrival gaps via LAG over a
    (o_orderdate, o_orderkey) total order — the purchase-cadence
    feature behind churn/RFM models, and the canonical LAG window
    shape. Integer day arithmetic end-to-end. One shuffle keyed by
    custkey (uniform); the window sort is per-customer-partition, so
    the plan is a single Exchange + local sort at any scale. Customers
    with a single order have no gap and drop out (matches the
    oracle's WHERE gap IS NOT NULL)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    gaps = orders.select(
        F.col("o_custkey"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_orders"),
        F.sum("gap_days").cast("long").alias("sum_gap_days"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    ).select(
        F.col("o_custkey").alias("custkey"),
        "n_orders", "sum_gap_days", "min_gap_days", "max_gap_days",
    )


@register("text_clean_normalize", clean_normalize_oracle_sql())
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization pass (control-strip -> NFC ->
    whitespace collapse -> trim) with md5/length and a ``changed``
    routing flag — the crawl-cleaning step every downstream hash,
    dedup and tokenizer depends on. Regex steps are codegen; NFC is
    an Arrow-vectorized pandas_udf (no JVM NFC builtin exists)
    (operators/text.py:clean_normalize)."""
    from sressentials_spark.operators.text import clean_normalize

    return clean_normalize(load_table(spark, sf_dir, "documents"))


@register(
    "curation_quality_tiers",
    f"""
WITH ll AS ({C.unigram_logloss_oracle_sql()}),
v AS (SELECT CAST(round(ln(CAST(COUNT(DISTINCT term) AS DOUBLE)) * {C.DSIR_LR_SCALE})
             AS BIGINT) AS uniform_nll_micro
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents)),
tiers AS (
  SELECT CASE WHEN ll.avg_nll_micro * 10 < v.uniform_nll_micro * 8 THEN 'head'
              WHEN ll.avg_nll_micro <= v.uniform_nll_micro THEN 'middle'
              ELSE 'tail' END AS tier,
         ll.n_tokens
  FROM ll CROSS JOIN v
)
SELECT tier,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM tiers GROUP BY tier
""",
)
def curation_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's actual deliverable over the perplexity signal: split the
    corpus into head / middle / tail quality tiers with per-tier
    document and token budgets (head = average NLL below 0.8x the
    uniform model's ln V, middle = at or below ln V, tail = worse than
    random). Tier cutoffs are fixed integer comparisons
    (cross-multiplied by 10 to stay BIGINT — no quantile sort, no
    global window), so tiering is one codegen CASE over the logloss
    output and the result is 3 rows at any corpus size."""
    ll = C.unigram_logloss(load_table(spark, sf_dir, "documents"))
    docs = load_table(spark, sf_dir, "documents")
    uniform = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
        .agg(
            F.round(
                F.ln(F.count_distinct("term").cast("double"))
                * F.lit(C.DSIR_LR_SCALE)
            )
            .cast("long")
            .alias("uniform_nll_micro")
        )
    )
    tiers = ll.crossJoin(F.broadcast(uniform)).select(
        F.when(
            F.col("avg_nll_micro") * 10 < F.col("uniform_nll_micro") * 8, "head"
        )
        .when(F.col("avg_nll_micro") <= F.col("uniform_nll_micro"), "middle")
        .otherwise("tail")
        .alias("tier"),
        "n_tokens",
    )
    return tiers.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "maintenance_snapshot_time_travel",
    """
SELECT CAST(1 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-20'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_day20
FROM events
UNION ALL
SELECT CAST(2 AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-20'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM events
WHERE CAST(ts AS DATE) <> DATE '2024-01-20'
""",
)
def maintenance_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based snapshots with time travel — the Delta/Iceberg
    commit pattern rebuilt on bare parquet + JSON manifests
    (operators/maintenance.py:snapshot_write/read_snapshot): v1
    commits the full events table; v2 is a GDPR-style rewrite that
    drops one day; data files are immutable and append-only, each
    version is just a manifest listing its visible files, and the
    manifest rename lands LAST so a crashed writer leaves reclaimable
    orphans, never a broken table. The query reads BOTH versions
    after v2 is committed — time travel must still serve v1's exact
    pre-delete contents (the vacuum/retention path is exercised by
    tests/test_snapshot.py on a private copy)."""
    import os

    from sressentials_spark.operators import maintenance as MT
    from sressentials_spark.scratch import scratch_dir

    cols = ["event_id", "user_id", "ts", "event_type", "value"]

    def _build() -> str:
        d = scratch_dir("sressentials_snapshot_")
        table = os.path.join(d, "events_table")
        ev = load_table(spark, sf_dir, "events").select(*cols)
        v1 = MT.snapshot_write(spark, ev, table, mode="replace")
        kept = ev.filter(F.to_date("ts") != F.lit("2024-01-20").cast("date"))
        v2 = MT.snapshot_write(spark, kept, table, mode="replace")
        if (v1, v2) != (1, 2):
            raise ValueError(f"unexpected versions: {(v1, v2)}")
        return table

    table = get_or_build(spark, ("snapshot_events", sf_dir), _build, tier="disk")

    def _stats(version: int) -> DataFrame:
        return (
            MT.read_snapshot(spark, table, version)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(
                        F.to_date("ts") == F.lit("2024-01-20").cast("date"), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_rows_day20"),
            )
            .select(
                F.lit(version).cast("long").alias("version"),
                "n_rows",
                "n_rows_day20",
            )
        )

    return _stats(1).unionByName(_stats(2))


@register(
    "maintenance_snapshot_prune_scan",
    """
WITH hi AS (SELECT CAST((MAX(event_id) + 1) // 5 AS BIGINT) AS h FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events, hi
WHERE event_id <= h
GROUP BY event_type
""",
)
def maintenance_snapshot_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping on a snapshot table (the Iceberg
    file-stats pattern): the commit records per-file min/max for
    ``event_id`` in the manifest (one extra pass over the fresh commit
    only), the table lands range-clustered on that column, and a
    range-predicate read prunes files from the MANIFEST — before any
    parquet footer is opened. The builder pins that the probed range
    actually skips most files; correctness never depends on the
    pruning (the row filter still applies — files without stats are
    simply always read)
    (operators/maintenance.py:snapshot_write/read_snapshot)."""
    import os

    from sressentials_spark.operators import maintenance as MT
    from sressentials_spark.scratch import scratch_dir

    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    ev = load_table(spark, sf_dir, "events").select(*cols)
    hi = (ev.agg(F.max("event_id")).first()[0] + 1) // 5

    def _build() -> str:
        d = scratch_dir("sressentials_snapshot_prune_")
        table = os.path.join(d, "events_table")
        MT.snapshot_write(
            spark,
            ev.repartitionByRange(10, "event_id"),
            table,
            mode="replace",
            stats_cols=["event_id"],
        )
        total = len(MT.snapshot_files(table, 1))
        kept = len(
            MT.read_snapshot(
                spark, table, 1, prune=("event_id", 0, hi)
            ).inputFiles()
        )
        if not kept < total:
            raise ValueError(f"manifest pruning skipped nothing: {kept}/{total}")
        return table

    table = get_or_build(spark, ("snapshot_prune_events", sf_dir), _build, tier="disk")
    return (
        MT.read_snapshot(spark, table, 1, prune=("event_id", 0, hi))
        .filter(F.col("event_id") <= hi)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
    )


@register(
    "maintenance_snapshot_merge",
    """
WITH mx AS (SELECT CAST((MAX(event_id) + 1) // 10 AS BIGINT) AS band,
                   CAST(MAX(event_id) AS BIGINT) AS m
            FROM events),
merged AS (
  SELECT event_id,
         CASE WHEN event_id <= (SELECT band FROM mx)
              THEN 'restated' ELSE event_type END AS event_type
  FROM events
  UNION ALL
  SELECT (SELECT m FROM mx) + i AS event_id, 'inserted' AS event_type
  FROM (SELECT CAST(unnest(generate_series(1, 50)) AS BIGINT) AS i)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM merged GROUP BY event_type
""",
)
def maintenance_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE as a snapshot commit (the Delta/Iceberg
    MERGE INTO shape, operators/maintenance.py:snapshot_merge): v1
    lands events range-clustered on event_id with per-file stats; the
    update batch restates the lowest-decile band and inserts 50 new
    rows; the merge rewrites ONLY the files whose stats range can
    intersect the update keys — the rest carry into v2 by reference,
    byte-identical (builder pins carried > rewritten; byte-identity is
    pinned in tests/test_snapshot.py). The query reads the merged head
    under the value gate; v1 still serves the pre-merge table until
    vacuum."""
    import os

    from sressentials_spark.operators import maintenance as MT
    from sressentials_spark.scratch import scratch_dir

    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    ev = load_table(spark, sf_dir, "events").select(*cols)

    def _build() -> str:
        # max/band only feed the fixture build — computed here so the
        # cached-artifact fast path pays no full-table aggregate.
        max_id = ev.agg(F.max("event_id")).first()[0]
        band = (max_id + 1) // 10
        d = scratch_dir("sressentials_snapshot_merge_")
        table = os.path.join(d, "events_table")
        MT.snapshot_write(
            spark,
            ev.repartitionByRange(10, "event_id"),
            table,
            mode="replace",
            stats_cols=["event_id"],
        )
        restated = ev.filter(F.col("event_id") <= band).withColumn(
            "event_type", F.lit("restated")
        )
        inserted = spark.range(1, 51).select(
            (F.lit(max_id) + F.col("id")).cast("long").alias("event_id"),
            F.lit(0).cast("long").alias("user_id"),
            F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("ts"),
            F.lit("inserted").alias("event_type"),
            F.lit(0.0).alias("value"),
        )
        stats = MT.snapshot_merge(
            spark, table, restated.unionByName(inserted), key_col="event_id"
        )
        if not stats["files_carried"] > stats["files_rewritten"]:
            raise ValueError(f"merge rewrote too much: {stats}")
        return table

    table = get_or_build(spark, ("snapshot_merge_events", sf_dir), _build, tier="disk")
    return (
        MT.read_snapshot(spark, table, 2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
    )


@register(
    "maintenance_compact_snapshot",
    """
SELECT CAST(1 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(event_id) AS BIGINT)
FROM events
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(event_id) AS BIGINT)
FROM events
""",
)
def maintenance_compact_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction AS a snapshot commit — the composition real table
    maintenance runs (operators/maintenance.py:snapshot_compact): v1
    lands the even-id half of events as 12 deliberately-small files,
    v2 APPENDS the odd half (8 more files), v3 is the compaction
    commit — the same rows as v2 rewritten into size-targeted files
    under a NEW manifest version. The query reads all three versions
    AFTER the compaction: v1 and v2 must still serve their exact
    pre-compaction contents (their files are untouched until vacuum —
    reclamation is exercised by tests/test_snapshot.py on a private
    copy), and v3 must be row-identical to v2 while the builder pins
    that its file count actually shrank."""
    import os

    from sressentials_spark.operators import maintenance as MT
    from sressentials_spark.scratch import scratch_dir

    cols = ["event_id", "user_id", "ts", "event_type", "value"]

    def _build() -> str:
        d = scratch_dir("sressentials_compact_snapshot_")
        table = os.path.join(d, "events_table")
        ev = load_table(spark, sf_dir, "events").select(*cols)
        v1 = MT.snapshot_write(
            spark,
            ev.filter(F.col("event_id") % 2 == 0).repartition(12),
            table,
            mode="replace",
        )
        v2 = MT.snapshot_write(
            spark,
            ev.filter(F.col("event_id") % 2 == 1).repartition(8),
            table,
            mode="append",
        )
        files_before = len(MT.file_manifest(os.path.join(table, "data")))
        v3 = MT.snapshot_compact(spark, table)
        if (v1, v2, v3) != (1, 2, 3):
            raise ValueError(f"unexpected versions: {(v1, v2, v3)}")
        import json

        with open(os.path.join(table, "manifest-v3.json")) as fh:
            n_v3 = len(json.load(fh)["files"])
        if not n_v3 < 20 <= files_before:
            raise ValueError(
                f"compaction did not shrink: {files_before} -> {n_v3}"
            )
        return table

    table = get_or_build(
        spark, ("compact_snapshot_events", sf_dir), _build, tier="disk"
    )

    def _stats(version: int) -> DataFrame:
        return MT.read_snapshot(spark, table, version).agg(
            F.lit(version).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )

    return _stats(1).unionByName(_stats(2)).unionByName(_stats(3))


from sressentials_spark.operators.fuzzy import (  # noqa: E402
    fuzzy_match_dictionary,
    fuzzy_match_dictionary_oracle_sql,
)


@register(
    "fuzzy_match_part_names",
    fuzzy_match_dictionary_oracle_sql("SELECT p_name AS name FROM part"),
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching over the part-name column:
    levenshtein<=2 pairs of DISTINCT names, candidates limited to
    rarest-token blocks plus a length necessary-condition — never an
    all-pairs cross join, and all distance work runs at dictionary
    scale with per-name row counts carried for the merge decision
    (operators/fuzzy.py:fuzzy_match_dictionary)."""
    return fuzzy_match_dictionary(
        load_table(spark, sf_dir, "part").select(F.col("p_name").alias("name")),
        "name",
    )


@register(
    "sketch_f2_selfjoin_events",
    K.cms_f2_oracle_sql("events", "user_id"),
)
def sketch_f2_selfjoin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join-size / F2 estimation from the Count-Min counters —
    the AMS-style optimizer statistic (join cardinality, skew) that
    costs one map-combinable d x w counter pass instead of the exact
    plan's full groupBy(user_id) shuffle. The estimate provably never
    undershoots (bucket-wise (sum f)^2 >= sum f^2; min over rows is
    the tightest); output carries exact vs estimate and the integer
    over-estimate permille (operators/sketch.py:cms_f2_estimate)."""
    return K.cms_f2_estimate(load_table(spark, sf_dir, "events"), "user_id")


@register(
    "streaming_f2_selfjoin_events",
    K.cms_f2_oracle_sql("events", "user_id"),
)
def streaming_f2_selfjoin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The F2 self-join-size estimator over STREAMED counters: the CMS
    counter state (<= d x w rows, additive merge) is maintained by the
    stream; the batch estimator's own min-of-squared-sums fold and
    exact baseline run batch-side over the settled state. Shares the
    batch oracle verbatim — streaming and batch counter tables must
    agree bit-for-bit (streaming/sketch.py:run_sketch_stream with
    operators/sketch.py:cms_f2_sketch)."""
    from sressentials_spark.streaming.sketch import run_sketch_stream

    return run_sketch_stream(spark, sf_dir, *K.cms_f2_sketch("user_id"))


@register(
    "streaming_lm_quality_scoring",
    C.score_unigram_logloss_oracle_sql(
        train_where="doc_id % 10 < 7", test_where="doc_id % 10 >= 7"
    ),
)
def streaming_lm_quality_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-model online quality gating — the LM sibling of the ANN
    serving tier: a unigram LM trained on the first 70% of the corpus
    is persisted as a vocabulary-sized artifact; the remaining
    documents arrive as a file stream and each micro-batch scores
    them by broadcast dictionary lookup in ``foreachBatch`` (OOV
    terms charged the model's Laplace unseen mass), appending to a
    parquet sink. Per-document scoring against a frozen model is
    batching-invariant, so this query shares the batch split-scoring
    oracle verbatim (streaming/lm_scoring.py)."""
    from sressentials_spark.streaming.lm_scoring import run_lm_scoring_stream

    return run_lm_scoring_stream(spark, sf_dir)


@register(
    "audit_drift_daily_trend",
    histogram_drift_trend_oracle_sql(
        split_sql=_DRIFT_SPLIT_DUCK, trend_sql="CAST(ts AS DATE)"
    ),
)
def audit_drift_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift localized in time: per-event-type PSI/TVD of EACH
    second-half day against the shared first-half reference histogram
    — the dashboard line that shows when a distribution moved, not
    just that it did. Reference counts are histogram-sized and
    broadcast onto every day bucket; everything downstream of the two
    count groupBys is sketch-scale
    (operators/drift.py:histogram_drift_trend)."""
    from sressentials_spark.operators.drift import histogram_drift_trend

    return histogram_drift_trend(
        load_table(spark, sf_dir, "events"),
        split_expr=_DRIFT_SPLIT_SPARK,
        trend_expr="CAST(ts AS DATE)",
    )


@register(
    "asof_next_error_after_purchase",
    """
WITH p AS (
  SELECT event_id, user_id, ts,
         (SELECT min(er.ts) FROM events er
          WHERE er.user_id = events.user_id AND er.event_type = 'error'
            AND er.ts >= events.ts) AS nxt
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id, user_id, ts AS purchase_ts,
       CASE WHEN nxt <= ts + INTERVAL 24 HOUR THEN nxt END AS next_error_ts,
       CASE WHEN nxt <= ts + INTERVAL 24 HOUR
            THEN CAST(date_diff('microsecond', ts, nxt) // 1000 AS BIGINT)
       END AS latency_ms
FROM p
""",
)
def asof_next_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with a tolerance band: for every purchase, the
    first error at-or-after it by the same user, kept only within 24
    hours (the attribution window a reliability dashboard uses —
    "did this purchase hit an error soon after?"), plus integer
    latency in ms. Same no-join composition as the backward as-of
    (`asof_last_purchase_before_error`), mirrored: a running ``min``
    over the FOLLOWING event-time RANGE frame (ties included exactly
    like ``>=``), one shuffle on user_id, tolerance applied as a
    codegen CASE after the window."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )
    error_ts = F.when(F.col("event_type") == "error", F.col("ts"))
    nxt = F.min(error_ts).over(w)
    # NB: the band test must reference the MATERIALIZED column — using
    # the window expression here would re-evaluate it after the
    # purchase filter, where no error rows remain.
    in_band = F.col("nxt") <= F.col("ts") + F.expr("INTERVAL 24 HOURS")
    return (
        e.withColumn("nxt", nxt)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(in_band, F.col("nxt")).alias("next_error_ts"),
            F.when(
                in_band,
                F.expr(
                    "(unix_micros(nxt) - unix_micros(ts)) div 1000"
                ),
            ).alias("latency_ms"),
        )
    )


@register(
    "sketch_joinsize_events_orders",
    K.cms_joinsize_oracle_sql("events", "user_id", "orders", "o_custkey"),
)
def sketch_joinsize_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-cardinality estimate for events.user_id x
    orders.o_custkey from two aligned Count-Min sketches (dot product
    of counter rows, min over the hash family) next to the exact
    baseline — never undershoots, costs two d x w counter passes plus
    a sketch-sized join instead of aggregating both fact tables
    (operators/sketch.py:cms_joinsize_estimate)."""
    return K.cms_joinsize_estimate(
        load_table(spark, sf_dir, "events"),
        "user_id",
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
    )


@register(
    "cbo_join_events_orders_rollup",
    f"""
WITH {K.cms_joinsize_est_ctes("events", "user_id", "orders", "o_custkey")},
roll AS (
  SELECT e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
         CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
  FROM events e JOIN orders o ON o.o_custkey = e.user_id
  GROUP BY 1
)
SELECT r.event_type, r.n_pairs, r.n_users, r.n_orders,
       est.cms_joinsize_estimate AS joinsize_estimate,
       CASE WHEN est.cms_joinsize_estimate <= {K.CBO_BROADCAST_MAX}
            THEN 'broadcast' ELSE 'merge' END AS strategy
FROM roll r, est
""",
)
def cbo_join_events_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-DRIVEN join: the CMS join-cardinality estimate
    (sketch_joinsize_events_orders' statistic) picks this query's
    physical join strategy the way a cost-based optimizer uses it —
    broadcast the orders side while the never-undershooting estimate
    stays under CBO_BROADCAST_MAX, sort-merge once it explodes (at
    sf0.1 the same rule flips to merge on real data). The chosen
    strategy and the estimate are OUTPUT COLUMNS, so the decision
    itself is under the DuckDB value gate, and the physical plan is
    pinned by tests/test_plan_shapes.py
    (operators/sketch.py:cbo_equi_join)."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    joined, est, strat = K.cbo_equi_join(
        events, "user_id", orders, "o_custkey"
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        )
        .withColumn("joinsize_estimate", F.lit(est).cast("long"))
        .withColumn("strategy", F.lit(strat))
    )
