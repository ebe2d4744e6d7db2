"""Reference-semantics fixtures (FIXTURES.md section B) driven through
pipeline.build_wide_fact — the edge cases the reference's behavior is
defined by: keep-last dedup, dup-key dims (last wins), miss defaults
vs matched nulls, guarded divisions, tz split, H:MM:SS, code cleaning.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.pipeline import (
    build_wide_fact,
    to_sink_projection,
)


@pytest.fixture(scope="module")
def wide(spark):
    videos = spark.createDataFrame(
        [
            # (video_id, title, channel_id, published_at, ingest_seq)
            ("v01", "Morning Show | Alpha ABCD", "CH1", "2024-03-01T10:30:00Z", 1),
            ("v01", "Morning Show | Alpha ABQD", "CH1", "2024-03-01T10:30:00Z", 2),  # keep-last wins
            ("v02", "News 2025", "CH2", "2024-03-02T23:30:00Z", 1),      # all-digit code -> ''
            ("v03", "Talk abcde", "CH9", "2024-03-03T00:00:00Z", 1),     # >1 lowercase -> ''
            ("v04", "Clip XY", "CH1", "", 1),                            # len 2 -> ''; empty date
            ("v05", "Drama PQRST", "CH3", "2024-03-05T05:00:00Z", 1),    # len 5 -> prefix 3
            ("v06", "Show NUL", "CH1", "2024-03-06T12:00:00Z", 1),       # matched dim, null show
            ("v07", "Intl WXYZ", "CH1", "2024-03-07T12:00:00Z", 1),      # International News branch
            ("v08", "NoDim ZZZ", "CH1", "2024-03-08T12:00:00Z", 1),      # code miss -> ''
        ],
        "video_id string, title string, channel_id string, published_at string, ingest_seq int",
    )
    channels = spark.createDataFrame(
        [
            ("CH1", "Channel One"),
            ("CH2", "Channel Two OLD"),
            ("CH2", "Channel Two"),  # dup id, last wins (channel.json:5 vs :26)
            ("CH3", "Channel Three"),
        ],
        "channel_id string, channel_name string",
    )
    resource_names = spark.createDataFrame(
        [("D", "Team Delta"), ("T", "Team Tango"), ("L", "")],  # '' team exists
        "employee_code string, team string",
    )
    shownames = spark.createDataFrame(
        [
            ("AB", "Alpha OLD", "BC OLD", "Sports"),
            ("AB", "Alpha Show", "BC One", "Local News"),  # dup code, last wins
            ("PQR", "Drama Show", "BC Two", "Sports"),
            ("NUL", None, "BC Three", "Local News"),       # matched null show_name
            ("WX", "World News", "BC Four", "International News"),
        ],
        "code string, show_name string, broadcaster string, category string",
    )
    cpm_categories = spark.createDataFrame(
        [("Alpha Show", "Premium"), ("Drama Show", "Standard")],
        "show_name string, cpm_category string",
    )
    analytics = spark.createDataFrame(
        [
            # video_id, content_type, views, minutes, avd, comments, likes,
            # shares, revenue, cpm, gained, lost
            ("v01", "VIDEO", 1000, 605.0, 3725, 10, 50, 40, 12.5, 1.1, 30, 5),
            ("v02", "SHORTS", 0, 0.0, 59, 0, 0, 0, 0.0, 0.0, 0, 0),  # views=0 guard
            ("v05", "VIDEO", 200, 60.0, 61, 2, 3, 5, 4.0, 0.5, None, 2),  # null gained
            ("zzz", "VIDEO", 9, 9.0, 9, 9, 9, 9, 9.0, 9.0, 9, 9),  # not in videos -> dropped
        ],
        "video_id string, content_type string, views long, minutes_watched double,"
        " avg_view_duration long, comments long, likes long, shares long,"
        " estimated_revenue double, cpm double, subscribers_gained long, subscribers_lost long",
    )
    df = build_wide_fact(videos, channels, resource_names, shownames, cpm_categories, analytics)
    rows = {r["video_id"]: r for r in df.collect()}
    return df, rows


def test_keep_last_dedup_by_ingest_seq(wide):
    df, rows = wide
    assert df.count() == 8  # v01 deduped
    assert rows["v01"]["title"].endswith("ABQD")


def test_channel_enrichment_last_wins_and_unknown(wide):
    _, rows = wide
    assert rows["v02"]["channel_name"] == "Channel Two"  # dup id: last wins
    assert rows["v03"]["channel_name"] == "Unknown Channel"  # CH9 missing


def test_code_cleaning_chain(wide):
    _, rows = wide
    assert rows["v01"]["main_code"] == "ABQD"  # len 4 kept
    assert rows["v02"]["main_code"] == ""  # all digits purged (P6)
    assert rows["v03"]["main_code"] == ""  # >1 lowercase purged (P7)
    assert rows["v04"]["main_code"] == ""  # len 2 purged (P5)
    assert rows["v05"]["main_code"] == "PQRST"  # len 5 kept
    # B7 invariant: len(main_code) in {0,3,4,5}
    for r in rows.values():
        assert len(r["main_code"]) in (0, 3, 4, 5)


def test_code_prefix_and_resource(wide):
    _, rows = wide
    assert rows["v01"]["code"] == "AB"  # len 4 -> first 2 (F6)
    assert rows["v05"]["code"] == "PQR"  # len 5 -> first 3
    assert rows["v01"]["resource_code"] == "D"
    assert rows["v01"]["resource_name"] == "Team Delta"
    assert rows["v05"]["resource_code"] == "T"
    assert rows["v05"]["resource_name"] == "Team Tango"
    assert rows["v04"]["resource_code"] == ""
    assert rows["v04"]["resource_name"] == ""  # miss -> '' (J2)


def test_showname_join_semantics(wide):
    _, rows = wide
    assert rows["v01"]["show_name"] == "Alpha Show"  # dup code last wins
    assert rows["v01"]["category"] == "Local News"
    assert rows["v06"]["show_name"] is None  # matched-but-null stays null (J3)
    assert rows["v06"]["broadcaster"] == "BC Three"
    assert rows["v08"]["show_name"] == ""  # miss -> ''
    assert rows["v08"]["broadcaster"] == ""


def test_analytics_merge(wide):
    df, rows = wide
    assert rows["v01"]["views"] == 1000
    assert rows["v03"]["views"] is None  # no analytics -> stays null
    assert "zzz" not in rows  # analytics row without fact dropped (J6)
    assert rows["v01"]["content_type"] == "VIDEO"


def test_derived_metrics_and_guards(wide):
    _, rows = wide
    r = rows["v01"]
    assert r["net_subscribers"] == 25
    assert r["watch_hours"] == 10.08  # 605/60 rounded
    assert r["avg_view_duration_hms"] == "1:02:05"  # 3725s, no leading zero (F15)
    assert r["engagement_pct"] == 10.0  # (10+50+40)/1000*100
    assert r["cpv"] == 0.0125
    assert r["rpm"] == 12.5
    z = rows["v02"]
    assert z["engagement_pct"] == 0.0 and z["cpv"] == 0.0 and z["rpm"] == 0.0  # views=0 guard
    assert z["avg_view_duration_hms"] == "0:00:59"
    v5 = rows["v05"]
    assert v5["net_subscribers"] == -2  # null gained -> 0 (F18)
    # no analytics at all -> zeros via null-safe parse
    assert rows["v03"]["engagement_pct"] == 0.0


def test_local_tz_split(wide):
    _, rows = wide
    assert rows["v01"]["published_date_local"] == "2024-03-01"
    assert rows["v01"]["published_time_local"] == "15:30:00"  # +05:00
    assert rows["v02"]["published_date_local"] == "2024-03-03"  # date rollover
    assert rows["v02"]["published_time_local"] == "04:30:00"
    assert rows["v04"]["published_date_local"] == ""  # empty input -> ('','')
    assert rows["v04"]["published_time_local"] == ""


def test_cpm_category_case(wide):
    _, rows = wide
    assert rows["v01"]["cpm_category"] == "Premium"  # dim hit
    assert rows["v05"]["cpm_category"] == "Standard"
    assert rows["v07"]["cpm_category"] == "World News"  # International News -> show name (F23)
    assert rows["v08"]["cpm_category"] == ""  # miss -> ''


def test_sink_projection_all_strings(wide):
    df, _ = wide
    sink = to_sink_projection(df)
    assert all(t == "string" for _, t in sink.dtypes)
    assert all(("|" not in c) and (" " not in c) for c in sink.columns)


def test_sink_projection_quotes_awkward_source_names(spark):
    """Source names with a space and a backtick survive the one-shot
    selectExpr: values are read from the right column and the output
    names are still sanitized."""
    src = spark.createDataFrame([(1, 2.5)], "id int, `odd ``name`` x` double")
    sink = to_sink_projection(src)
    assert sink.columns == ["id", "odd_name_x"]
    assert sink.first().asDict() == {"id": "1", "odd_name_x": "2.5"}
