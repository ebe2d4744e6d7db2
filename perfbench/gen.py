"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from the
workload seed, so the same seed gives byte-identical inputs (checked by
the digest every result carries).

- ``write_testdata`` writes the ten registry tables (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  same schemas and value domains as the engine's query testdata.
- ``write_etl`` writes the dims and ``ETL_BATCHES`` cron batches of
  videos + analytics for the ``etl_batch`` workload.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Registry table sizes (the engine's sf0.01 testdata shape, fewer
# documents/embeddings so the pairwise kernels stay inside a run).
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 120
N_EMB = 120
EMB_DIM = 64

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "cold"]
PART_NOUN = ["ring", "widget", "plate", "rod", "gizmo", "bolt", "nut", "gear"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts_ms(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "ms")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("ms"))


def write_testdata(out_dir: str, seed: int) -> None:
    """The ten tables the registry queries read, at ``out_dir/<t>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, N_CUSTOMER), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMER), s),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, N_SUPPLIER), f64),
    }), f"{out_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PART), s),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(N_PART) % 1000) / 10, 2), f64),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS), s),
        "o_totalprice": pa.array(money(1000, 500000, N_ORDERS), f64),
        "o_orderdate": _ts_ms(rng.integers(0, 2400, N_ORDERS), "1995-01-01"),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS), s),
    }), f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINEITEM), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINEITEM), s),
        "l_shipdate": _ts_ms(rng.integers(0, 2500, N_LINEITEM), "1995-01-02"),
    }), f"{out_dir}/lineitem.parquet")

    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    _write(pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], N_EVENTS), s),
        "value": pa.array(np.round(rng.exponential(50, N_EVENTS) + 0.01, 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], s),
    }), f"{out_dir}/events.parquet")

    # 5% of documents are near-duplicates of an earlier one (one word
    # appended), the shape the minhash/rouge dedup kernels look for.
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 90)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(
            ["en", "de", "es", "fr", "zh"], N_DOCS, p=[0.44, 0.14, 0.14, 0.13, 0.15]), s),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), f"{out_dir}/documents.parquet")

    emb = rng.normal(size=(N_EMB, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(N_EMB), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), i32),
    }), f"{out_dir}/embeddings.parquet")


# --- etl_batch --------------------------------------------------------------
#
# Dim shapes are the reference's own (SURVEY.md section 1.2): channel.json
# 30 rows with a duplicated id; resource_name.json 35 one-character
# employee codes (A-Z, 1-9) with empty-string teams; showname.json 540
# rows over 475 codes, 65 of them duplicated (last row wins) and 21 null
# show names; cpmcategory.json 11 rows. The reference publishes no
# traffic volume (SURVEY.md section 6): a tick fetches a one-day publish
# window per channel, 50 videos a page, and asks analytics for 500 ids a
# request. The tick size below is chosen, not measured: 30 channels x
# 4 pages x 50 videos = 6,000 videos, 12 analytics requests. It is
# bounded by the run-time budget of the benchmark.

N_CHANNELS = 30
N_CHANNEL_DUPS = 1  # channel.json has a duplicated id (last row wins)
N_SHOW_CODES = 475
N_SHOW_DUP_ROWS = 65
N_SHOW_NULL_NAMES = 21
N_CPM = 11
RESOURCE_CODES = [chr(c) for c in range(ord("A"), ord("Z") + 1)] + [str(d) for d in range(1, 10)]
EMPTY_TEAMS = 2  # resource_name.json has empty-string teams
CATEGORIES = ["Local News", "Sports", "International News", "Entertainment", "Business"]
UPPER = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))

ETL_PAGES = 4  # pages of 50 videos per channel and tick
ETL_ROWS = N_CHANNELS * ETL_PAGES * 50  # videos per cron batch
ETL_BATCHES = 3
ETL_REINGEST = 0.20  # share of a batch that re-ingests ids of earlier batches
ETL_NO_ANALYTICS = 0.15  # share of a batch's videos without an analytics row
ETL_CHANNEL_MISS = 0.03  # videos whose channel is not in the dim
# title tails: a code of the dim, a well-formed code the dim lacks, a
# code the cleaning chain blanks, or no code
TAIL_P = {"hit": 0.70, "miss": 0.10, "blanked": 0.15, "empty": 0.05}
BLANKED = ["2025", "abcd", "AB", "ABCDEFG", "ABcD", "12345", "x"]
# ingest_seq is fixed-width: the sink projection casts every column to
# string, so the durable table's keep-last compares ingest_seq as text.
SEQ_BASE = 1_000_000_000


def _codes(rng, n: int, length: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        c = "".join(rng.choice(UPPER, length))
        if c not in taken:
            taken.add(c)
            out.append(c)
    return out


def _write_dims(rng, dims: str) -> list[str]:
    """The four dims at ``dims/<name>.parquet``; returns the show codes."""
    chan = [f"UC{i:04d}" for i in range(N_CHANNELS - N_CHANNEL_DUPS)]
    dup = list(rng.choice(chan, N_CHANNEL_DUPS, replace=False))
    _write(pa.table({
        "channel_id": chan + dup,
        "channel_name": [f"Channel {c}" for c in chan] + [f"Channel {c} renamed" for c in dup],
    }), f"{dims}/channels.parquet")

    teams = [f"Team {c}" for c in RESOURCE_CODES]
    for i in rng.choice(len(teams), EMPTY_TEAMS, replace=False):
        teams[i] = ""
    _write(pa.table({"employee_code": RESOURCE_CODES, "team": teams}),
           f"{dims}/resource_names.parquet")

    # 2-letter codes take a 4-character title code, 3-letter ones a 3- or
    # 5-character one (the cleaning chain's prefix rule)
    taken: set[str] = set()
    codes = _codes(rng, N_SHOW_CODES // 4, 2, taken) + _codes(
        rng, N_SHOW_CODES - N_SHOW_CODES // 4, 3, taken)
    rows = list(range(N_SHOW_CODES)) + list(rng.choice(N_SHOW_CODES, N_SHOW_DUP_ROWS,
                                                       replace=False))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    names: list[str | None] = [f"Show {i} v{j}" for j, i in enumerate(rows)]
    for j in rng.choice(len(rows), N_SHOW_NULL_NAMES, replace=False):
        names[j] = None
    _write(pa.table({
        "code": [codes[i] for i in rows],
        "show_name": pa.array(names, pa.string()),
        "broadcaster": [f"BC {int(b)}" for b in rng.integers(0, 20, len(rows))],
        "category": list(rng.choice(CATEGORIES, len(rows))),
    }), f"{dims}/shownames.parquet")

    # CPM categories for shows of the dim, one show listed twice (last wins)
    shows = [n for n in names if n is not None]
    picked = list(rng.choice(shows, N_CPM - 1, replace=False))
    picked.append(picked[int(rng.integers(0, len(picked)))])
    _write(pa.table({
        "show_name": picked,
        "cpm_category": list(rng.choice(["Premium", "Standard", "Budget"], N_CPM)),
    }), f"{dims}/cpm_categories.parquet")
    return codes


def _title_codes(rng, n: int, codes: list[str]) -> list[str]:
    kinds = rng.choice(list(TAIL_P), n, p=list(TAIL_P.values()))
    res = rng.choice(RESOURCE_CODES, n)
    fill = rng.choice(UPPER, n)
    hit = rng.choice(codes, n)
    known = set(codes)
    out = []
    for k, c, r, f in zip(kinds, hit, res, fill):
        if k in ("blanked", "empty"):
            out.append(str(rng.choice(BLANKED)) if k == "blanked" else "")
            continue
        if k == "miss":  # a well-formed 3-letter code the dim lacks
            c = "".join(rng.choice(UPPER, 3))
            while c in known:
                c = "".join(rng.choice(UPPER, 3))
        # the title code's last character is the resource code: a 2-letter
        # code takes a 4-character title code, a 3-letter one either the
        # bare code (3 in 5; its last letter is the resource code) or a
        # 5-character one
        out.append(c if len(c) == 3 and r < "M" else c + f + r)
    return out


def _videos_table(rng, ids: np.ndarray, seqs: np.ndarray, codes: list[str]) -> pa.Table:
    n = len(ids)
    tails = _title_codes(rng, n, codes)
    sep = rng.choice([" ", " | ", "|"], n)
    titles = [f"Video {int(k)}{p}{t}" for k, p, t in zip(rng.integers(0, 10**6, n), sep, tails)]
    pub = np.datetime64("2024-01-01T00:00:00", "s") + rng.integers(0, 365 * 86400, n).astype(
        "timedelta64[s]")
    published = [str(p) + "Z" for p in pub]
    bad = rng.random(n) < 0.02
    published = ["" if b else p for b, p in zip(bad, published)]
    chan = [f"UC{int(c):04d}" for c in rng.integers(0, N_CHANNELS - N_CHANNEL_DUPS, n)]
    miss = rng.random(n) < ETL_CHANNEL_MISS
    chan = ["UX0000" if m else c for m, c in zip(miss, chan)]
    return pa.table({
        "video_id": pa.array([f"v{int(i):010d}" for i in ids], pa.string()),
        "title": pa.array(titles, pa.string()),
        "channel_id": pa.array(chan, pa.string()),
        "published_at": pa.array(published, pa.string()),
        "ingest_seq": pa.array(seqs, pa.int64()),
    })


def _analytics_table(rng, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    views = rng.integers(0, 50000, n)
    views[rng.random(n) < 0.05] = 0
    gained = pa.array(rng.integers(0, 500, n), pa.int64(), mask=rng.random(n) < 0.05)
    return pa.table({
        "video_id": pa.array([f"v{int(i):010d}" for i in ids], pa.string()),
        "content_type": pa.array(rng.choice(["VIDEO", "SHORTS", "LIVE"], n), pa.string()),
        "views": pa.array(views, pa.int64()),
        "minutes_watched": pa.array(np.round(rng.uniform(0, 90000, n), 2), pa.float64()),
        "avg_view_duration": pa.array(rng.integers(0, 7200, n), pa.int64()),
        "comments": pa.array(rng.integers(0, 300, n), pa.int64()),
        "likes": pa.array(rng.integers(0, 3000, n), pa.int64()),
        "shares": pa.array(rng.integers(0, 200, n), pa.int64()),
        "estimated_revenue": pa.array(np.round(rng.uniform(0, 400, n), 4), pa.float64()),
        "cpm": pa.array(np.round(rng.uniform(0.5, 9, n), 6), pa.float64()),
        "subscribers_gained": gained,
        "subscribers_lost": pa.array(rng.integers(0, 50, n), pa.int64()),
    })


def write_etl(out_dir: str, seed: int) -> list[str]:
    """Dims at ``out_dir/dims`` and one directory per cron batch; returns
    the batch directories in ingest order. Each batch holds ETL_ROWS
    video rows: ~20% re-ingest ids from earlier batches (higher
    ingest_seq), ~2% repeat an id inside the batch, ~15% of the batch's
    ids have no analytics row and 5% of analytics rows have no video."""
    rng = np.random.default_rng([seed, 2])
    dims = os.path.join(out_dir, "dims")
    os.makedirs(dims, exist_ok=True)
    codes = _write_dims(rng, dims)
    batches = []
    next_id = 0
    seq = SEQ_BASE
    for b in range(ETL_BATCHES):
        n_old = int(ETL_ROWS * ETL_REINGEST) if b else 0
        n_dup = ETL_ROWS // 50
        n_new = ETL_ROWS - n_old - n_dup
        fresh = np.arange(next_id, next_id + n_new)
        next_id += n_new
        old = rng.choice(next_id - n_new, n_old, replace=False) if n_old else fresh[:0]
        ids = np.concatenate([fresh, old, rng.choice(fresh, n_dup, replace=False)])
        ids = ids[rng.permutation(len(ids))]
        seqs = seq + np.arange(len(ids))
        seq += len(ids)
        distinct = np.unique(ids)
        with_metrics = distinct[rng.random(len(distinct)) >= ETL_NO_ANALYTICS]
        ghosts = np.arange(10**9, 10**9 + len(with_metrics) // 20) + b * 10**6
        bdir = os.path.join(out_dir, f"batch_{b:03d}")
        os.makedirs(bdir)
        _write(_videos_table(rng, ids, seqs, codes), f"{bdir}/videos.parquet")
        _write(_analytics_table(rng, np.concatenate([with_metrics, ghosts])),
               f"{bdir}/analytics.parquet")
        batches.append(bdir)
    return batches


def digest(root: str) -> tuple[int, str]:
    """(total bytes, sha256 over relative paths and contents) of a tree."""
    h = hashlib.sha256()
    total = 0
    for d, subdirs, files in os.walk(root):
        subdirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                data = fh.read()
            total += len(data)
            h.update(os.path.relpath(p, root).encode() + b"\0" + data)
    return total, h.hexdigest()[:16]
