"""Seeded input generator for the product benchmark.

Every input the engine sees comes from here and depends only on the seed:
the same seed writes byte-identical files.  Nothing here imports the
engine; the engine only ever receives the files.

Inputs per workload:

* the medallion run — consecutive daily bronze auction dumps in the
  reference layout ``YYYY-MM-DD/raw_auctions_YYYY-MM-DD.json`` plus a
  pre-seeded warehouse (``silver_auctions`` with HISTORY_DAYS of history,
  ``dim_items``).  Auctions live one or two days, so consecutive dumps
  overlap; the mix holds commodity rows (``unit_price``), item rows
  (``buyout`` plus modifiers), malformed numerics and missing quantities.
  ``serve_reads`` stages only the warehouse.
* the stream catch-up — price ticks and user events, each staged as
  event-time-ordered chunk directories ``b01, b02, ...`` (the file source
  replays them in that order; an unordered replay breaks the sessionizer).
* the corpus build — a ``documents`` parquet table.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- medallion sizing ----------------------------------------------------
# A quarter of the reference-sized run (about 20k auctions per dump against
# about 377k rows of silver history): about 5k auctions per dump against
# about 98k history rows.  ``scale=4`` stages the reference size.
N_ITEMS = 160               # every item is listed every day
NEW_PER_DAY = 3000          # auctions created per day (plus one per item)
TWO_DAY_SHARE = 0.6         # auctions that stay listed a second day
HISTORY_DAYS = 31           # silver history before the first replayed day
RETENTION_DAYS = 30
REPLAY_DAYS = 3             # dumps staged after the history
FIRST_DAY = dt.date(2026, 1, 1)
NEW_ITEMS_PER_DAY = 3       # item ids first seen on a replayed day
BAD_NUMERIC_SHARE = 0.01
MISSING_QTY_SHARE = 0.02
NOT_FOUND_MOD = 97          # item ids divisible by this answer 404

# --- stream catch-up sizing ----------------------------------------------
N_TICKS = 12_000
N_ITEM_KEYS = 40
TICK_HOURS = 36
N_EVENTS = 12_000
N_USERS = 200
EVENT_HOURS = 36
N_CHUNKS = 2                # one micro-batch each
STREAM_T0 = dt.datetime(2026, 3, 1)

# --- corpus build sizing -------------------------------------------------
N_DOCS = 400
VOCAB = (
    "agg table spark hash sort key vector fast join value data query window "
    "batch filter the group line column customer small stream merge scan "
    "slow big order part row a of to in and index cache plan shuffle task"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
N_SOURCES = 8

SILVER_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("item_id", pa.int64()),
        ("quantity", pa.int64()),
        ("unit_price", pa.int64()),
        ("buyout", pa.int64()),
        ("time_left", pa.string()),
        (
            "modifiers",
            pa.list_(pa.struct([("type", pa.int32()), ("value", pa.int32())])),
        ),
        ("snapshot_date", pa.date32()),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ]
)
DIM_SCHEMA = pa.schema(
    [
        ("item_id", pa.int64()),
        ("name", pa.string()),
        ("quality", pa.string()),
        ("item_class", pa.string()),
        ("item_subclass", pa.string()),
        ("icon_url", pa.string()),
        ("last_updated", pa.timestamp("us", tz="UTC")),
    ]
)
TIME_LEFT = ("SHORT", "MEDIUM", "LONG", "VERY_LONG")
ITEM_CLASSES = ("Trade Goods", "Consumable", "Armor", "Weapon", "Recipe")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def replay_days() -> list[dt.date]:
    first = FIRST_DAY + dt.timedelta(days=HISTORY_DAYS)
    return [first + dt.timedelta(days=i) for i in range(REPLAY_DAYS)]


def item_meta(item_id: int) -> dict:
    """What the in-process item API answers for one id (status 200)."""
    return {
        "name": f"Item {item_id}",
        "quality": {"name": ("Common", "Rare", "Epic")[item_id % 3]},
        "item_class": {"name": ITEM_CLASSES[item_id % len(ITEM_CLASSES)]},
        "item_subclass": {"name": f"Sub {item_id % 7}"},
        "icon_url": f"icons/{item_id}.png",
    }


def fetch_item(url: str) -> tuple[int, dict | None]:
    item_id = int(url.rsplit("/", 1)[1])
    if item_id % NOT_FOUND_MOD == 0:
        return 404, None
    return 200, item_meta(item_id)


# --------------------------------------------------------------------------
# auctions


def _auctions(seed: int, scale: float) -> dict[str, np.ndarray]:
    """Every auction of the whole calendar (history + replay), one row per
    auction, ids ascending in creation order."""
    r = _rng(seed, 1)
    new_per_day = round(NEW_PER_DAY * scale)
    n_days = HISTORY_DAYS + REPLAY_DAYS
    base_items = 20_000 + np.arange(N_ITEMS) * 13
    days, items = [], []
    for d in range(n_days):
        pool = base_items
        if d >= HISTORY_DAYS:  # a few brand-new items per replayed day
            new = 90_000 + (d - HISTORY_DAYS) * 10 + np.arange(NEW_ITEMS_PER_DAY)
            pool = np.concatenate([base_items, new])
        extra = r.integers(0, len(pool), new_per_day)
        chosen = np.concatenate([pool, pool[extra]])
        days.append(np.full(len(chosen), d))
        items.append(chosen)
    day = np.concatenate(days)
    item = np.concatenate(items)
    n = len(day)
    order = np.lexsort((r.random(n), day))  # shuffle within a day
    day, item = day[order], item[order]
    commodity = item % 2 == 0  # an item trades either as a commodity or not
    level = 50 + (item % 50) * 40
    price = (level * np.exp(r.normal(0.0, 0.25, n))).astype(np.int64) * np.where(
        commodity, 1, 1000
    )
    qty = np.where(commodity, r.integers(1, 200, n), 1)
    return {
        "id": 1_000_000 + np.arange(n, dtype=np.int64),
        "day": day,
        "item": item.astype(np.int64),
        "commodity": commodity,
        "price": price,
        "qty": qty.astype(np.int64),
        "life": np.where(r.random(n) < TWO_DAY_SHARE, 2, 1),
        "bad": r.random(n) < BAD_NUMERIC_SHARE,
        "no_qty": r.random(n) < MISSING_QTY_SHARE,
        "time_left": r.integers(0, len(TIME_LEFT), n),
        "mod": r.integers(1, 100, n),
    }


def _bronze_row(a: dict, i: int) -> dict:
    row: dict = {"id": int(a["id"][i])}
    item = {"id": int(a["item"][i])}
    if not a["commodity"][i]:
        item["modifiers"] = [{"type": 9, "value": int(a["mod"][i])}]
    row["item"] = item
    price: object = int(a["price"][i])
    if a["bad"][i]:
        price = "n/a"
    if a["commodity"][i]:
        row["unit_price"] = price
    else:
        row["buyout"] = price
    if not a["no_qty"][i]:
        row["quantity"] = int(a["qty"][i])
    row["time_left"] = TIME_LEFT[int(a["time_left"][i])]
    return row


def _silver_table(a: dict, mask: np.ndarray) -> pa.Table:
    """The rows silver_transform would produce for these auctions."""
    idx = np.flatnonzero(mask)
    qty = np.where(a["no_qty"][idx], 1, a["qty"][idx])
    price = a["price"][idx]
    bad = a["bad"][idx]
    com = a["commodity"][idx]
    unit = np.where(com, price, price // np.maximum(qty, 1))
    mods = [
        None if c else [{"type": 9, "value": int(m)}]
        for c, m in zip(com, a["mod"][idx])
    ]
    days = [FIRST_DAY + dt.timedelta(days=int(d)) for d in a["day"][idx]]
    created = [
        dt.datetime.combine(d, dt.time(6), tzinfo=dt.timezone.utc) for d in days
    ]
    return pa.table(
        {
            "id": a["id"][idx],
            "item_id": a["item"][idx],
            "quantity": qty,
            "unit_price": pa.array(unit, mask=bad),
            "buyout": pa.array(price, mask=com | bad),
            "time_left": [TIME_LEFT[int(t)] for t in a["time_left"][idx]],
            "modifiers": mods,
            "snapshot_date": days,
            "created_at": created,
        },
        schema=SILVER_SCHEMA,
    )


def stage_medallion(seed: int, root: str, scale: float = 1.0, with_dumps: bool = True) -> dict:
    """Write the pre-seeded warehouse and (``with_dumps``) the bronze dumps
    under ``root``; ``scale`` multiplies the auctions created per day.

    Returns what the output checks need: the replay days and, per day, the
    ids silver must hold once that day (and its retention) has run."""
    a = _auctions(seed, scale)
    bronze = os.path.join(root, "bronze")
    seed_wh = os.path.join(root, "warehouse_seed")
    os.makedirs(os.path.join(seed_wh, "silver_auctions"), exist_ok=True)
    os.makedirs(os.path.join(seed_wh, "dim_items"), exist_ok=True)

    hist = a["day"] < HISTORY_DAYS
    pq.write_table(
        _silver_table(a, hist),
        os.path.join(seed_wh, "silver_auctions", "part-00000-seed.parquet"),
    )
    seen = sorted({int(i) for i in a["item"][hist]})
    stamp = dt.datetime.combine(FIRST_DAY, dt.time(0), tzinfo=dt.timezone.utc)
    dim_rows = [
        {"item_id": i, **_flat_meta(i), "last_updated": stamp}
        for i in seen
        if i % NOT_FOUND_MOD
    ]
    pq.write_table(
        pa.Table.from_pylist(dim_rows, schema=DIM_SCHEMA),
        os.path.join(seed_wh, "dim_items", "part-00000-seed.parquet"),
    )

    days = replay_days() if with_dumps else []
    dumps = []
    for k, day in enumerate(days):
        d = HISTORY_DAYS + k
        live = (a["day"] <= d) & (a["day"] + a["life"] > d)
        rows = [_bronze_row(a, i) for i in np.flatnonzero(live)]
        sub = os.path.join(bronze, f"{day:%Y-%m-%d}")
        os.makedirs(sub, exist_ok=True)
        doc = {"_links": {"self": {"href": "bench"}}, "auctions": rows}
        with open(os.path.join(sub, f"raw_auctions_{day:%Y-%m-%d}.json"), "w") as fh:
            json.dump(doc, fh, separators=(",", ":"))
        dumps.append(sub)
    return {
        "days": days,
        "dumps": dumps,
        "seed_warehouse": seed_wh,
        "ids": a["id"],
        "items": a["item"],
        "id_day": a["day"],
    }


def _flat_meta(item_id: int) -> dict:
    m = item_meta(item_id)
    return {
        "name": m["name"],
        "quality": m["quality"]["name"],
        "item_class": m["item_class"]["name"],
        "item_subclass": m["item_subclass"]["name"],
        "icon_url": m["icon_url"],
    }


def expected_silver_ids(staged: dict, days_run: int) -> set[int]:
    """Silver ids after ``days_run`` replayed days: every auction first
    listed on or before the last day, minus those retention removed."""
    last = HISTORY_DAYS + days_run - 1
    cutoff = last - RETENTION_DAYS
    keep = (staged["id_day"] <= last) & (staged["id_day"] >= cutoff)
    return {int(i) for i in staged["ids"][keep]}


# --------------------------------------------------------------------------
# streams


def _write_chunks(table: pa.Table, ts: np.ndarray, root: str) -> str:
    order = np.argsort(ts, kind="stable")
    table = table.take(order)
    bounds = np.linspace(0, table.num_rows, N_CHUNKS + 1).astype(int)
    for c in range(N_CHUNKS):
        d = os.path.join(root, f"b{c + 1:02d}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            table.slice(bounds[c], bounds[c + 1] - bounds[c]),
            os.path.join(d, "part-0.parquet"),
        )
    return root


def stage_streams(seed: int, root: str) -> dict:
    r = _rng(seed, 2)
    t0_us = int(STREAM_T0.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = t0_us + r.integers(0, TICK_HOURS * 3_600_000_000, N_TICKS)
    keys = r.zipf(1.5, N_TICKS) % N_ITEM_KEYS
    ticks = pa.table(
        {
            "tick_id": np.arange(N_TICKS, dtype=np.int64),
            "item_key": [f"item{k:03d}" for k in keys],
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "price": np.round(10 + (keys % 9) + r.normal(0, 1.0, N_TICKS), 2),
            "quantity": r.integers(1, 50, N_TICKS).astype(np.int64),
        }
    )
    # users act in bursts: a session gap is 30 min, bursts are 0-2 h apart
    users = r.integers(0, N_USERS, N_EVENTS).astype(np.int64)
    ets = t0_us + r.integers(0, EVENT_HOURS * 3_600_000_000, N_EVENTS)
    events = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(ets, type=pa.timestamp("us", tz="UTC")),
            "user_id": users,
            "event_type": [("view", "click", "buy")[i % 3] for i in r.integers(0, 3, N_EVENTS)],
            "value": np.round(r.random(N_EVENTS) * 100, 2),
        }
    )
    return {
        "ticks": _write_chunks(ticks, ts, os.path.join(root, "ticks")),
        "events": _write_chunks(events, ets, os.path.join(root, "events")),
        "tick_table": ticks,
        "event_table": events,
    }


# --------------------------------------------------------------------------
# documents


def stage_documents(seed: int, root: str) -> str:
    r = _rng(seed, 3)
    texts = []
    boiler = " ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), 24))
    for doc in range(N_DOCS):
        n = int(r.integers(30, 120))
        words = [VOCAB[i] for i in r.integers(0, len(VOCAB), n)]
        if doc % 7 == 0:       # shared boilerplate span → span/line dedup work
            words = boiler.split() + words
        if doc % 11 == 0 and doc > 0:   # near-copy of an earlier document
            words = texts[doc - 1].split()[: n] + ["fast"]
        if doc % 13 == 0:      # PII for the scrubber
            words += [f"user{doc}@example.com", "call", f"555-010-{doc % 10000:04d}"]
        texts.append(" ".join(words))
    table = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in r.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i}" for i in r.integers(0, N_SOURCES, N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "documents.parquet")
    pq.write_table(table, path)
    return path


def expected_items(staged: dict) -> set[int]:
    """Item ids listed in the history or any dump (the pool item reads draw from)."""
    return {int(i) for i in np.unique(staged["items"])}


SESSION_GAP_S = 30 * 60  # the sessionizer's inactivity gap


def reference_sessions(events: pa.Table) -> list[tuple]:
    """Every session of the event log, gap-split per user, as
    (user_id, start, end, n_events, closed_by); a user's last session is
    marked 'timeout' (it can only close once the watermark passes it)."""
    users = events.column("user_id").to_numpy()
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    order = np.lexsort((ts, users))
    out = []
    gap_us = SESSION_GAP_S * 1_000_000
    start = last = user = None
    n = 0

    def emit(how):
        out.append((int(user), _dt(start), _dt(last), n, how))

    for i in order:
        u, t = users[i], ts[i]
        if u != user:
            if user is not None:
                emit("timeout")
            user, start, last, n = u, t, t, 1
        elif t - last > gap_us:
            emit("gap")
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    if user is not None:
        emit("timeout")
    return out


def _dt(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
