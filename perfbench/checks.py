"""Output check for etl_batch, run after the timed passes: the durable
table must hold one row per distinct video_id, each from that id's
highest ingest_seq, and match a DuckDB keep-last plus enrich over the
generated batches and dims (the SQL below restates the pipeline stage by
stage, as plans/oracles_pipeline.py does for the registry's pipeline
query). Registry queries are checked by tests/oracle_compare.compare.
"""

from __future__ import annotations

import math

import duckdb

from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS


def _r(expr: str, dp: int) -> str:
    p = float(10**dp)
    return f"floor(({expr}) * {p!r} + 0.5) / {p!r}"


def _last_wins(path: str, key: str) -> str:
    return (f"SELECT * EXCLUDE (file_row_number, _rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {key} ORDER BY file_row_number DESC) AS _rn FROM "
            f"read_parquet('{path}', file_row_number = true)) WHERE _rn = 1")


def etl_sql(etl_dir: str) -> str:
    dims = f"{etl_dir}/dims"
    return f"""
WITH
raw AS (
  SELECT *, regexp_extract(filename, 'batch_[0-9]+') AS _batch
  FROM read_parquet('{etl_dir}/batch_*/videos.parquet', filename = true)),
videos AS (
  SELECT * EXCLUDE (filename, _rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY video_id ORDER BY ingest_seq DESC) AS _rn
    FROM raw) WHERE _rn = 1),
analytics AS (
  SELECT * EXCLUDE (filename), regexp_extract(filename, 'batch_[0-9]+') AS _batch
  FROM read_parquet('{etl_dir}/batch_*/analytics.parquet', filename = true)),
channels AS ({_last_wins(f"{dims}/channels.parquet", "channel_id")}),
shownames AS ({_last_wins(f"{dims}/shownames.parquet", "code")}),
resource_names AS ({_last_wins(f"{dims}/resource_names.parquet", "employee_code")}),
cpm_categories AS ({_last_wins(f"{dims}/cpm_categories.parquet", "show_name")}),
with_channel AS (
  SELECT v.*, coalesce(c.channel_name, 'Unknown Channel') AS channel_name
  FROM videos v LEFT JOIN channels c USING (channel_id)),
raw_codes AS (
  SELECT *, list_extract(
      string_split_regex(trim(regexp_replace(title, '\\|', ' ', 'g')), '{WS_CLASS}+'), -1)
    AS raw_code
  FROM with_channel),
codes AS (
  SELECT * EXCLUDE (raw_code),
    CASE WHEN length(raw_code) IN (3, 4, 5)
          AND NOT regexp_matches(raw_code, '^[0-9]+$')
          AND length(regexp_replace(raw_code, '[^\\p{{Ll}}]', '', 'g')) <= 1
         THEN raw_code ELSE '' END AS main_code
  FROM raw_codes),
codes2 AS (
  SELECT *,
    length(main_code) AS code_len,
    CASE WHEN length(main_code) = 4 THEN substr(main_code, 1, 2)
         ELSE substr(main_code, 1, 3) END AS code,
    CASE WHEN main_code = '' THEN '' ELSE right(main_code, 1) END AS resource_code
  FROM codes),
with_resource AS (
  SELECT c2.*, coalesce(r.team, '') AS resource_name
  FROM codes2 c2 LEFT JOIN resource_names r ON r.employee_code = c2.resource_code),
with_show AS (
  SELECT w.*,
    CASE WHEN s.code IS NULL THEN '' ELSE s.show_name END AS show_name,
    CASE WHEN s.code IS NULL THEN '' ELSE s.broadcaster END AS broadcaster,
    CASE WHEN s.code IS NULL THEN '' ELSE s.category END AS category
  FROM with_resource w LEFT JOIN shownames s ON s.code = w.code),
merged AS (
  SELECT w.*, a.* EXCLUDE (video_id, _batch)
  FROM with_show w LEFT JOIN analytics a
    ON a.video_id = w.video_id AND a._batch = w._batch)
SELECT
  merged.* EXCLUDE (_batch),
  COALESCE(strftime(try_strptime(published_at, '%Y-%m-%dT%H:%M:%SZ')
    + INTERVAL 5 HOUR, '%Y-%m-%d'), '') AS published_date_local,
  COALESCE(strftime(try_strptime(published_at, '%Y-%m-%dT%H:%M:%SZ')
    + INTERVAL 5 HOUR, '%H:%M:%S'), '') AS published_time_local,
  CAST(coalesce(subscribers_gained, 0) - coalesce(subscribers_lost, 0) AS BIGINT)
    AS net_subscribers,
  {_r("coalesce(minutes_watched, 0) / 60.0", 2)} AS watch_hours,
  coalesce(avg_view_duration, 0) // 3600 || ':' ||
    lpad(CAST((coalesce(avg_view_duration, 0) % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
    lpad(CAST(coalesce(avg_view_duration, 0) % 60 AS VARCHAR), 2, '0')
    AS avg_view_duration_hms,
  {_r("CASE WHEN coalesce(views, 0) > 0 THEN (coalesce(comments,0) + coalesce(likes,0) + coalesce(shares,0)) / coalesce(views, 0) * 100.0 ELSE 0 END", 2)}
    AS engagement_pct,
  {_r("CASE WHEN coalesce(views, 0) > 0 THEN coalesce(estimated_revenue, 0) / coalesce(views, 0) ELSE 0 END", 6)}
    AS cpv,
  {_r("CASE WHEN coalesce(views, 0) > 0 THEN coalesce(estimated_revenue, 0) / coalesce(views, 0) ELSE 0 END * 1000.0", 2)}
    AS rpm,
  CASE WHEN trim(coalesce(category, '')) = 'International News'
       THEN coalesce(merged.show_name, '')
       ELSE coalesce(cc.cpm_category, '') END AS cpm_category
FROM merged LEFT JOIN cpm_categories cc ON cc.show_name = merged.show_name
"""


def etl_expected(etl_dir: str) -> tuple[list[str], dict[str, tuple]]:
    """(columns, rows by video_id) of the expected durable table."""
    with duckdb.connect() as con:
        rel = con.sql(etl_sql(etl_dir))
        cols = list(rel.columns)
        rows = rel.fetchall()
    k = cols.index("video_id")
    return cols, {r[k]: r for r in rows}


def _same(expected, got: str | None) -> bool:
    if expected is None or got is None:
        return expected is None and got is None
    if isinstance(expected, (int, float)):
        try:
            g = float(got)
        except ValueError:
            return False
        return math.isclose(round(float(expected), 6), round(g, 6), rel_tol=1e-9, abs_tol=1e-9)
    return str(expected) == got


def etl_table_errors(table_dir: str, expected: tuple[list[str], dict[str, tuple]]) -> list[str]:
    """Mismatches between the durable table (all columns are strings
    after the sink projection) and the expected rows."""
    cols, want = expected
    with duckdb.connect() as con:
        rel = con.sql(f"SELECT * FROM read_parquet('{table_dir}/*.parquet')")
        got_cols = list(rel.columns)
        got = rel.fetchall()
    if sorted(got_cols) != sorted(cols):
        return [f"columns differ: table={sorted(got_cols)} expected={sorted(cols)}"]
    errors: list[str] = []
    k = got_cols.index("video_id")
    if len(got) != len({r[k] for r in got}):
        errors.append(f"{len(got) - len({r[k] for r in got})} duplicate video_id rows")
    if len(got) != len(want):
        errors.append(f"row count differs: table={len(got)} expected={len(want)}")
    idx = [cols.index(c) for c in got_cols]
    for row in got:
        exp = want.get(row[k])
        if exp is None:
            errors.append(f"unexpected video_id {row[k]}")
        else:
            for c, i, v in zip(got_cols, idx, row):
                if not _same(exp[i], v):
                    errors.append(f"video_id {row[k]} col {c}: table={v!r} expected={exp[i]!r}")
        if len(errors) > 5:
            break
    return errors
