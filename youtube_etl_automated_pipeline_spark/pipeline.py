"""E1: the reference's seven-process pipeline as ONE lazy DataFrame plan.

Reference flow (SURVEY.md section 3, dags/Dashboard-pipeline.py:31-40):

    [search API] --1--> sheet(A-D) --2--> sheet(+E-I) --3--> sheet(+J-L)
    [analytics API] --4/5--> sheet(+O,P-Y) --6--> sheet(+M,N,Z,AA-AD)
    --7--> BigQuery (append + window-dedup)

Each stage re-read and re-wrote the whole sheet; here Catalyst sees
the entire plan at once: scan -> keep-last dedup -> broadcast enrich
joins -> analytics merge -> derived-metric projection. All dims are
broadcast; the only fact shuffles are the dedup window and (if the
analytics side is large) the metrics merge join — at 100 TB both
shuffle on video_id, the natural key.

Column map parity (sheet cols A-AD -> snake_case): SURVEY section 1.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions import dates as D
from youtube_etl_automated_pipeline_spark.functions import metrics as M
from youtube_etl_automated_pipeline_spark.functions import text as X
from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last
from youtube_etl_automated_pipeline_spark.operators.joins import (
    broadcast_enrich,
    dim_last_wins,
    update_merge,
)

ANALYTICS_COLS = (
    "content_type",
    "views",
    "minutes_watched",
    "avg_view_duration",
    "comments",
    "likes",
    "shares",
    "estimated_revenue",
    "cpm",
    "subscribers_gained",
    "subscribers_lost",
)


def _last_wins(dim: DataFrame, key: str) -> DataFrame:
    """Dim dup keys resolve to the row read last (the reference's
    dict-comprehension overwrite)."""
    return dim_last_wins(
        dim.withColumn("_ord", F.monotonically_increasing_id()), key, ["_ord"]
    ).drop("_ord")


def ingest_merge(videos: DataFrame, channels: DataFrame | None = None) -> DataFrame:
    """Stage 1 (dataingestion1.py:104-181): keep-last dedup by video_id
    over ingest_seq (A5/J7), then channel enrichment (J1) with
    'Unknown Channel' for misses; dup channel ids resolve last-wins
    (channel.json has dup UCmHCyBKDCQk5GwJB3NvTbdw)."""
    deduped = keep_last(videos, ["video_id"], ["ingest_seq"])
    if channels is not None and "channel_id" in deduped.columns:
        dim = _last_wins(channels, "channel_id")
        deduped = broadcast_enrich(
            deduped,
            dim,
            "channel_id",
            defaults={"channel_name": "Unknown Channel"},
            preserve_matched_nulls=False,
        )
    return deduped


def derive_codes(df: DataFrame, resource_names: DataFrame | None = None) -> DataFrame:
    """Stage 2 (dataingestion2.py): cols E-I. Title -> last word (F2),
    cleaning chain (P5-P7), Len recompute (F3), prefix code (F6), last
    char (F7), resource team lookup (J2, miss -> '')."""
    raw = X.extract_last_word(F.col("title"))
    main_code = F.col("main_code")
    out = df.withColumn("main_code", X.clean_main_code(raw)).withColumns(
        {
            "code_len": F.length(main_code),
            "code": X.code_prefix(main_code, F.length(main_code)),
            "resource_code": X.last_char(main_code),
        }
    )
    if resource_names is not None:
        dim = _last_wins(resource_names, "employee_code")
        out = broadcast_enrich(
            out.withColumn("employee_code", F.col("resource_code")),
            dim.withColumnRenamed("team", "resource_name"),
            "employee_code",
            defaults={"resource_name": ""},
            preserve_matched_nulls=False,
        ).drop("employee_code")
    return out


def enrich_shownames(df: DataFrame, shownames: DataFrame) -> DataFrame:
    """Stage 3 (dataingestion3.py:33-45): cols J-L. Code -> show name /
    broadcaster / category. Dup codes last-wins (65 in showname.json);
    miss -> ''; a MATCHED-but-null show_name stays null (miss-vs-null
    distinction, SURVEY section 4)."""
    dim = _last_wins(shownames, "code")
    return broadcast_enrich(
        df,
        dim,
        "code",
        defaults={"show_name": "", "broadcaster": "", "category": ""},
        preserve_matched_nulls=True,
    )


def merge_analytics(df: DataFrame, analytics: DataFrame) -> DataFrame:
    """Stages 4/5 (dataprocessing.py:120-161, dataprocessing2.py): cols
    O, P-Y. Keyed MERGE of per-video metrics (J6/K3): fact rows with no
    metrics keep nulls; metric rows without a fact row are dropped."""
    return update_merge(df, analytics, "video_id", list(ANALYTICS_COLS))


def derive_final_metrics(df: DataFrame, cpm_categories: DataFrame | None = None) -> DataFrame:
    """Stage 6 (dataprocessing3.py): cols M,N,Z,AA-AD. Local tz split
    (F14), net subscribers (F19), engagement/CPV/RPM (F20-F22) with
    null-safe parses (F18: null -> 0), CPM category CASE (F23/J4)."""
    local_date, local_time = D.utc_to_local_date_time(F.col("published_at"))
    views = F.coalesce(F.col("views"), F.lit(0))
    revenue = F.coalesce(F.col("estimated_revenue"), F.lit(0.0))
    out = df.withColumns(
        {
            "published_date_local": local_date,
            "published_time_local": local_time,
            "net_subscribers": M.net_subscribers(
                F.col("subscribers_gained"), F.col("subscribers_lost")
            ),
            "watch_hours": M.minutes_to_hours(F.coalesce(F.col("minutes_watched"), F.lit(0.0))),
            "avg_view_duration_hms": D.seconds_to_hms(
                F.coalesce(F.col("avg_view_duration"), F.lit(0))
            ),
            "engagement_pct": M.engagement_pct(
                F.coalesce(F.col("comments"), F.lit(0)),
                F.coalesce(F.col("likes"), F.lit(0)),
                F.coalesce(F.col("shares"), F.lit(0)),
                views,
            ),
            "cpv": M.cpv(revenue, views),
            "rpm": M.rpm(revenue, views),
        }
    )
    if cpm_categories is not None:
        dim = _last_wins(cpm_categories, "show_name")
        out = broadcast_enrich(
            out,
            dim,
            "show_name",
            defaults={"cpm_category": ""},
            preserve_matched_nulls=False,
        )
        # F23 (dataprocessing3.py:88-91): International News videos use
        # the show name itself as the category
        out = out.withColumn(
            "cpm_category",
            F.when(
                F.trim(F.coalesce(F.col("category"), F.lit(""))) == "International News",
                F.coalesce(F.col("show_name"), F.lit("")),
            ).otherwise(F.coalesce(F.col("cpm_category"), F.lit(""))),
        )
    return out


def build_wide_fact(
    videos: DataFrame,
    channels: DataFrame | None = None,
    resource_names: DataFrame | None = None,
    shownames: DataFrame | None = None,
    cpm_categories: DataFrame | None = None,
    analytics: DataFrame | None = None,
) -> DataFrame:
    """The whole DAG as one plan (sheet cols A-AD)."""
    out = ingest_merge(videos, channels)
    out = derive_codes(out, resource_names)
    if shownames is not None:
        out = enrich_shownames(out, shownames)
    if analytics is not None:
        out = merge_analytics(out, analytics)
    return derive_final_metrics(out, cpm_categories)


def to_sink_projection(df: DataFrame) -> DataFrame:
    """E3 prep (ingestdatainbigquery.py:37-46,127): F8 sanitize column
    names + F9 cast everything to string (autodetect-parity). A
    projection, not a rewrite."""
    return df.selectExpr(
        *[
            f"CAST({_quote(c)} AS STRING) AS {_quote(X.sanitize_column_name(c))}"
            for c in df.columns
        ]
    )


def _quote(name: str) -> str:
    """Backtick-quote a column name for a SQL expression."""
    return "`" + name.replace("`", "``") + "`"
