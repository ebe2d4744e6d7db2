"""Join operators (SURVEY.md section 2.4 J1-J7).

Every reference join is a broadcast hash lookup of a fact against a
tiny dim (dict ``.get`` / ``.map``), plus one anti-join waterfall.
Scale posture: dims are explicitly ``F.broadcast``-hinted (no shuffle
of the fact for enrichment); the fact side is never collected or
broadcast; the upsert/merge is a window dedup (one shuffle on the key).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last


def broadcast_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    defaults: Mapping[str, str] | None = None,
    preserve_matched_nulls: bool = True,
) -> DataFrame:
    """J1-J4: fact LEFT JOIN broadcast(dim) with miss defaults.

    ``defaults`` maps dim value-column -> default for JOIN MISSES.
    ``preserve_matched_nulls=True`` reproduces the reference's
    dict-lookup semantics (dataingestion3.py:37-45): a key that matched
    but carries a null attribute stays null — only true misses get the
    default. This is the miss-vs-null distinction SURVEY section 4
    flags; a bare ``coalesce`` would conflate the two.
    """
    keys = [on] if isinstance(on, str) else list(on)
    marked = dim.withColumn("_dim_matched", F.lit(True))
    out = fact.join(F.broadcast(marked), keys, "left")
    defaults = defaults or {}
    if preserve_matched_nulls:
        filled = {
            c: F.when(F.col("_dim_matched").isNull(), F.lit(d)).otherwise(F.col(c))
            for c, d in defaults.items()
        }
    else:
        filled = {c: F.coalesce(F.col(c), F.lit(d)) for c, d in defaults.items()}
    return out.withColumns(filled).drop("_dim_matched")


def dim_last_wins(dim: DataFrame, key: str | Sequence[str], order_by: Sequence[Column | str]) -> DataFrame:
    """Dict-comprehension last-wins dup resolution for dim tables
    (dataingestion3.py:37: 65 duplicated codes, last wins). Dims are
    broadcast-sized, so they are coalesced to one partition first: that
    partition already satisfies the window's clustering and the dedup
    runs without a shuffle."""
    keys = [key] if isinstance(key, str) else list(key)
    return keep_last(dim.coalesce(1), keys, order_by)


def anti_join_waterfall(
    ids: DataFrame,
    fetched_by_owner: Sequence[DataFrame],
    on: str,
) -> DataFrame:
    """J5: waterfall set-difference (dataprocessing.py:106-114).

    The reference loops over content owners, removing fetched ids from
    the remaining set; each step is a LEFT ANTI join here. Driver-side
    control flow (the loop) is fine — each step is a distributed join,
    and the early-exit uses ``isEmpty()`` not ``count()``.
    Returns the ids never fetched by any owner.
    """
    remaining = ids
    for fetched in fetched_by_owner:
        if remaining.isEmpty():
            break
        remaining = remaining.join(fetched.select(on), on, "left_anti")
    return remaining


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """J7: union + keep-last dedup = upsert of new over old
    (dataingestion1.py:166-168). ``order_by`` must rank new rows above
    old ones (e.g. an ingest_seq). One shuffle on ``keys``.
    """
    return keep_last(old.unionByName(new), keys, order_by)


def update_merge(
    fact: DataFrame,
    updates: DataFrame,
    on: str,
    update_cols: Sequence[str],
) -> DataFrame:
    """K3/J6: keyed batch update — MERGE of ``updates`` columns into the
    fact (dataprocessing.py:120-161). Fact rows with no update keep
    their existing value; update rows with no fact row are dropped
    (reference drops analytics rows absent from the sheet,
    dataprocessing.py:136-146). Left join + per-column coalesce.
    """
    renamed = updates.select(
        on, *[F.col(c).alias(f"_upd_{c}") for c in update_cols]
    )
    out = fact.join(renamed, on, "left")
    existing = set(fact.columns)
    merged = {
        c: F.coalesce(F.col(f"_upd_{c}"), F.col(c)) if c in existing else F.col(f"_upd_{c}")
        for c in update_cols
    }
    return out.withColumns(merged).drop(*[f"_upd_{c}" for c in update_cols])
