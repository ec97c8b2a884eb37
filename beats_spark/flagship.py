"""The flagship end-to-end pipeline (SURVEY.md §7.2) + DuckDB oracle.

read token table → dissect(payload) → drop_event(level=debug) →
add_fields → broadcast enrich on source → timestamp → selector routing
(errors/warns/team-*/bulk/catchall + dlq) → per-sink fan-out.

Every stage has an exact DuckDB-SQL twin (oracle_*_sql) over the same
orders-derived token table, so the driver's CORRECTNESS gate checks the
whole pipeline: per-sink counts AND token-array integrity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.datagen import load_token_events, lookup_rows, lookup_sql, token_events_sql
from beats_spark.pipeline import Pipeline

FLAGSHIP_TOKENIZER = (
    'level=%{level} ts=%{ts} caller=%{caller} msg="%{msg}" ip=%{ip} seq=%{seq|long}'
)

ROUTING = {
    "rules": [
        {"sink": "errors", "when": {"equals": {"level": "error"}}},
        {
            "sink": "warns",
            "when": {
                "and": [
                    {"equals": {"level": "warn"}},
                    {"range": {"seq.gte": 50}},
                ]
            },
        },
        {"sink": "team-%{[team]}", "when": {"has_fields": ["team"]}},
        {"sink": "%{[source]}", "mappings": {"src-4": "bulk", "src-5": "bulk"}},
    ],
    "default": "catchall",
    "dead_letter": "dlq",
    "lowercase": True,
}


def flagship_config() -> dict:
    return {
        "payload_field": "payload",
        "processors": [
            {
                "dissect": {
                    "tokenizer": FLAGSHIP_TOKENIZER,
                    "field": "payload",
                    "target_prefix": "",
                }
            },
            {"drop_event": {"when": {"equals": {"level": "debug"}}}},
            {"add_fields": {"target": "", "fields": {"pipeline_version": "v1"}}},
            {
                "lookup": {
                    "rows": lookup_rows(),
                    "key_field": "source",
                    "target": "",
                }
            },
            {
                "timestamp": {
                    "field": "ts",
                    "layouts": ["2006-01-02T15:04:05Z07:00"],
                    "target_field": "@timestamp",
                    "ignore_failure": True,
                }
            },
        ],
        "routing": ROUTING,
    }


def routed_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token table → fully processed + sink-tagged frame."""
    df = load_token_events(spark, sf_dir)
    return Pipeline(flagship_config()).transform(df)


def route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, sink) counts — the events.acked-per-sink analog. A
    plain groupBy: partial aggregation combines the hot `source` on the
    map side, so no salting is needed (skew.py)."""
    routed = routed_frame(spark, sf_dir)
    return (
        routed.groupBy("source", "sink")
        .agg(F.count(F.lit(1)).alias("events"))
        .orderBy("source", "sink")
    )


# --- DuckDB oracle twins -----------------------------------------------------

# RE2 twin of the dissect tokenizer's compiled regex
_ORACLE_PAT = (
    "'^level=(.*?) ts=(.*?) caller=(.*?) msg=\"(.*)\" ip=(.*?) seq=(.*)$'"
)

_PARSED_CTE = f"""
events AS ({token_events_sql('duckdb')}),
parsed AS (
  SELECT e.*,
    regexp_matches(payload, {_ORACLE_PAT}) AS ok,
    CASE WHEN regexp_matches(payload, {_ORACLE_PAT})
         THEN regexp_extract(payload, {_ORACLE_PAT}, 1) END AS level,
    CASE WHEN regexp_matches(payload, {_ORACLE_PAT})
         THEN regexp_extract(payload, {_ORACLE_PAT}, 2) END AS ts,
    CASE WHEN regexp_matches(payload, {_ORACLE_PAT})
         THEN regexp_extract(payload, {_ORACLE_PAT}, 3) END AS caller,
    CASE WHEN regexp_matches(payload, {_ORACLE_PAT})
         THEN TRY_CAST(regexp_extract(payload, {_ORACLE_PAT}, 6) AS BIGINT) END AS seq
  FROM events e
),
kept AS (SELECT * FROM parsed WHERE level IS NULL OR level <> 'debug'),
enriched AS (
  SELECT k.*, lookup_source.team
  FROM kept k LEFT JOIN {lookup_sql('duckdb')}
    ON k.source = lookup_source.source
),
routed AS (
  SELECT *,
    CASE
      WHEN NOT ok THEN 'dlq'
      WHEN level = 'error' THEN 'errors'
      WHEN level = 'warn' AND seq >= 50 THEN 'warns'
      WHEN team IS NOT NULL THEN lower(concat('team-', team))
      WHEN source = 'src-4' OR source = 'src-5' THEN 'bulk'
      ELSE 'catchall'
    END AS sink
  FROM enriched
)"""


def oracle_route_counts_sql() -> str:
    return (
        "WITH "
        + _PARSED_CTE
        + """
SELECT source, sink, count(*) AS events
FROM routed GROUP BY source, sink ORDER BY source, sink"""
    )


def token_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink row counts + token-array checksums over the ROUTED rows
    — proves the pipeline carried every tokens array through unmodified
    (per-row invariant of BASELINE input_hint, aggregated to a
    hash-comparable form)."""
    routed = routed_frame(spark, sf_dir)
    tok_hash = F.aggregate(
        F.col("tokens"),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(1000000007),
    )
    return (
        routed.withColumn("__th__", tok_hash)
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_tok").alias("sum_n_tok"),
            F.sum(F.aggregate(F.col("tokens"), F.lit(0).cast("long"), lambda a, x: a + x)).alias("sum_tok"),
            F.sum("__th__").alias("sum_tok_hash"),
        )
        .orderBy("sink")
    )


def oracle_token_checksums_sql() -> str:
    return (
        "WITH "
        + _PARSED_CTE
        + """
SELECT sink, count(*) AS rows,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
       CAST(sum(list_sum(tokens)) AS BIGINT) AS sum_tok,
       CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), tokens),
                       (acc, x) -> (acc * 31 + x) % 1000000007)) AS BIGINT) AS sum_tok_hash
FROM routed GROUP BY sink ORDER BY sink"""
    )
