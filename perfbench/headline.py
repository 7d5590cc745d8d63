"""The ten headline queries of ``bench.py`` and their DuckDB twins.

Six come from the registry (their twin is the op's ``oracle_sql``); four are
defined inline in ``bench.py`` and are repeated here verbatim, with the
DuckDB SQL that BASELINE.md timed as their twin. Keep them in step with
``bench.py``: the batch_headline workload exists to time exactly that set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

#: bench.py name -> registry op
REGISTRY_QUERIES = {
    "q1_pricing_summary": "agg_groupby_q1",
    "q3_topk_join": "topk_global",
    "q5_five_way_join": "join_multiway",
    "window_rank": "win_rank_topn",
    "distinct_users_per_type": "agg_count_distinct",
    "knn_cosine_top10": "sim_knn_cosine",
}

INLINE_SQL = {
    "tumbling_window_1h": """
        SELECT date_trunc('hour', ts) AS w_start, event_type,
               count(*) AS n, sum(value) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "sessionize_30min": """
        WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
            SELECT user_id, ts, sum(brk) OVER (
                PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
            FROM g
        )
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    "json_extract_props": """
        SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k, count(*) AS n
        FROM events GROUP BY 1 ORDER BY n DESC, k ASC LIMIT 10
    """,
    "text_token_count": """
        SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    """,
}


def inline_queries(tables: dict) -> dict:
    """The inline DataFrames of bench.py, built on already-loaded tables."""
    ev, docs = tables["events"], tables["documents"]
    return {
        "tumbling_window_1h": ev.groupBy(
            F.date_trunc("hour", "ts").alias("w_start"), "event_type"
        ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value")),
        "sessionize_30min": ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(F.count("*").alias("n_events")).select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        ),
        "json_extract_props": ev.select(
            F.from_json("props", "k INT").getField("k").alias("k")
        ).groupBy("k").agg(F.count("*").alias("n")).orderBy(
            F.desc("n"), F.asc("k")
        ).limit(10),
        "text_token_count": docs.groupBy("lang").agg(
            F.sum(
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).alias("n_tokens")
        ),
    }
