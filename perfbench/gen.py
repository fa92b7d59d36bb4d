"""Seeded input generators for the benchmark.

Everything the engine reads is made here from the workload seed: the
same seed writes byte-identical inputs and the same expectations.

* :func:`write_tables` writes the five tables the dashboard panels read
  (events, documents, orders, customer, lineitem) with the test-fixture
  schemas and the fixture's sf0.1 row counts, as multi-file, multi-row-group parquet directories, so scans
  split into several tasks.
* :func:`write_batches` writes micro-batches of wire rows
  ``(subject, payload)`` as JSON lines. Each batch mixes all nine event
  families, spans several days, and carries a fixed share of corrupt
  payloads and unknown subjects. It returns the answers the engine must
  give after each batch.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
DEVICES = ["ios", "android", "web", "tv"]
PLANS = ["free", "basic", "pro"]
WORDS = (
    "a the data spark stream table column row value key query scan sort join"
    " hash agg group window filter merge batch order line customer vector"
    " fast slow big small part"
).split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.41, 0.15, 0.14, 0.15, 0.15])
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

EVENTS_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
ORDERS_START = datetime(1995, 1, 1, tzinfo=timezone.utc)


def _write(table: pa.Table, path: str, files: int) -> None:
    """One parquet directory of ``files`` files, four row groups each."""
    os.makedirs(path)
    per_file = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * per_file, per_file)
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // 4)),
        )


def _micros(start: datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.timestamp()) * 1_000_000
    return pa.array(base + seconds.astype(np.int64), pa.timestamp("us"))


def _strings(codes: np.ndarray, values: list[str]) -> pa.Array:
    """``values[codes]`` as a string array, built through a dictionary
    array so large tables do not go through a Python list."""
    indices = pa.array(codes.astype(np.int32))
    return pa.DictionaryArray.from_arrays(indices, pa.array(values)).cast(pa.string())


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    """``n`` strings drawn from ``values``."""
    return _strings(rng.choice(len(values), n, p=p), values)


# Row counts of the test fixture at scale factor 0.1 (TESTDATA.md:
# ~600k lineitem rows); ``scale`` multiplies them.
SF01_ROWS = {
    "events": 100_000,
    "documents": 5_000,
    "customer": 15_000,
    "orders": 150_000,
}
EVENT_USERS = 1_500


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write the dashboard tables under ``out_dir``; return the spot
    values the correctness gate compares panels 2 and 20 against.
    ``scale`` multiplies every row count (1 = the sf0.1 fixture sizes:
    100k events, 150k orders, about 600k line items)."""
    rng = np.random.default_rng(seed)
    n_ev, n_docs, n_cust, n_orders = (
        max(1, int(SF01_ROWS[t] * scale)) for t in ("events", "documents", "customer", "orders")
    )

    # events: 30 days of traffic, microsecond timestamps in order
    ev_secs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    ev_user = rng.integers(0, EVENT_USERS, n_ev)
    ev_type = rng.integers(0, len(EVENT_TYPES), n_ev)
    ev_value = np.round(rng.exponential(50.0, n_ev), 2)
    props = [
        f'{{"k": {k}, "device": "{DEVICES[d]}", "plan": "{PLANS[p]}"}}'
        for k, d, p in zip(
            rng.integers(0, 100, n_ev).tolist(),
            rng.integers(0, len(DEVICES), n_ev).tolist(),
            rng.integers(0, len(PLANS), n_ev).tolist(),
        )
    ]
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _micros(EVENTS_START, ev_secs),
            "user_id": pa.array(ev_user, pa.int64()),
            "event_type": _strings(ev_type, EVENT_TYPES),
            "value": pa.array(ev_value, pa.float64()),
            "props": pa.array(props),
        }
    )

    # documents: 10-100 tokens; every 20th is a copy of an earlier one
    # plus a trailing token, so near-duplicate panels find pairs
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS[0], n_docs, p=LANGS[1]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )

    o_days = rng.integers(0, 2404, n_orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2)
            ),
            "o_orderdate": _micros(ORDERS_START, o_days * 86_400_000_000),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )

    # 1-7 lines per order, 4 on average: 600k lines at 150k orders
    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    l_qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_ship = o_days[l_order] + rng.integers(1, 122, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": pa.array(l_qty),
            "l_extendedprice": pa.array(
                np.round(l_qty * rng.uniform(900.0, 2100.0, n_li), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _micros(ORDERS_START, l_ship * 86_400_000_000),
        }
    )

    for name, table in (
        ("events", events),
        ("documents", documents),
        ("orders", orders),
        ("customer", customer),
        ("lineitem", lineitem),
    ):
        _write(table, os.path.join(out_dir, f"{name}.parquet"), files=4)

    mix = {
        EVENT_TYPES[t]: (int((ev_type == t).sum()), int(((ev_type == t) & (ev_value > 0)).sum()))
        for t in range(len(EVENT_TYPES))
    }
    return {
        "event_mix": mix,
        "total_events": n_ev,
        "exact_users": int(len(np.unique(ev_user))),
    }


# -- ingest ----------------------------------------------------------------

UNKNOWN_SUBJECTS = ["events.legacy.click", "events.angulak.rate", "metrics.ping"]
GENRES = ["drama", "comedy", "action", "documentary", "kids", "thriller", "anime"]
QUALITIES = ["240p", "480p", "720p", "1080p", "4k"]
CORRUPT_SHARE = 0.01
UNKNOWN_SHARE = 0.005
DAYS_PER_BATCH = 3
INGEST_START = datetime(2024, 3, 1, tzinfo=timezone.utc)


def _draw(rng: np.random.Generator, rows: int, families: int) -> dict:
    """Every per-row random field of one batch, drawn as whole arrays.
    The families come in equal shares: the repository records no
    traffic mix, so none is favoured."""
    g = rng.integers(0, len(GENRES), (rows, 3))
    n_genres = rng.integers(1, 4, rows)
    return {
        "secs": rng.integers(0, DAYS_PER_BATCH * 86_400, rows),
        "kind": rng.random(rows),
        "fam": rng.integers(0, families, rows),
        "user": rng.integers(0, 2_000, rows),
        "item": rng.integers(0, 400, rows),
        "play": rng.integers(0, 400, rows),
        "flags": rng.integers(0, 16, rows),
        "pick": rng.integers(0, 6, rows),
        "season": rng.integers(1, 6, rows),
        "episode": rng.integers(1, 25, rows),
        "duration": rng.integers(600, 7200, rows),
        "position": rng.random(rows),
        "quality": rng.integers(0, len(QUALITIES), rows),
        "buffer_ms": rng.integers(0, 900, rows),
        "age": rng.integers(0, 19, rows),
        "genres": [
            sorted({GENRES[x] for x in row[:k]})
            for row, k in zip(g.tolist(), n_genres.tolist())
        ],
    }


def _extras(subject: str, r: dict, i: int) -> dict:
    """Family-specific payload fields (names and types of the registry)."""
    item, play = f"item-{r['item'][i]}", f"play-{r['play'][i]}"
    flags, pick = r["flags"][i], r["pick"][i]
    if subject == "events.sabte_ahval":
        return {"profile_id": f"p-{r['user'][i]}", "is_new_user": bool(flags & 1)}
    if subject in ("events.angulak.like", "events.angulak.bookmark"):
        return {"play_info_id": play, "action": ("add", "remove")[pick % 2]}
    if subject == "events.angulak.comment":
        return {"play_info_id": play}
    if subject == "events.session":
        return {"is_ended": bool(flags & 1)}
    if subject == "events.angulak.watch":
        duration = r["duration"][i]
        return {
            "state": ("play", "pause", "stop")[pick % 3],
            "item_type": "episode",
            "item_id": item,
            "play_info_id": play,
            "season_number": r["season"][i],
            "episode_number": r["episode"][i],
            "subtitle_language": "fa",
            "audio_language": "fa",
            "video_position": int(r["position"][i] * duration),
            "video_duration": duration,
            "player_version": "3.2.1",
            "internet_connection_type": ("wifi", "4g", "5g")[pick // 2],
            "region": ("tehran", "shiraz", "tabriz")[pick % 3],
            "ad_id": None,
            "ad_type": None,
            "event_details": json.dumps(
                {"quality": QUALITIES[r["quality"][i]], "buffer_ms": r["buffer_ms"][i]}
            ),
        }
    common = {
        "item_id": item,
        "play_info_id": play,
        "genres": r["genres"][i],
        "labels": ["new"] if flags & 1 else [],
        "categories": ["series"],
        "has_subtitle": bool(flags & 2),
        "is_dubbed": bool(flags & 4),
        "reach_method": ("search", "home", "push")[pick % 3],
    }
    if subject == "events.shahrefarang.item":
        return {
            **common,
            "age_rating": r["age"][i],
            "is_exclusive": bool(flags & 8),
            "languages": ["fa"],
        }
    return {**common, "duration": r["duration"][i]}


def write_batches(out_dir: str, seed: int, n_batches: int, rows: int) -> list[dict]:
    """Write ``n_batches`` JSON-lines micro-batches of ``rows`` wire rows
    under ``out_dir`` (one directory per batch) and return, per batch,
    the cumulative answers the engine must give once it is committed:
    rows per family table, DLQ rows by reason, watch rows and exact
    watch users per day, item rows per genre, and watch rows per
    ``event_details`` quality."""
    from ed_clickhouse_spark.sources.registry import BY_SUBJECT, FAMILIES

    subjects = [f.subject for f in FAMILIES]

    rng = np.random.default_rng(seed)
    table_rows: Counter = Counter()
    dlq: Counter = Counter()
    watch_rows: Counter = Counter()
    watch_users: dict = defaultdict(set)
    genres: Counter = Counter()
    quality: Counter = Counter()
    expected = []
    for b in range(n_batches):
        draw = _draw(rng, rows, len(subjects))
        r = {k: (v if isinstance(v, list) else v.tolist()) for k, v in draw.items()}
        first = int((INGEST_START + timedelta(days=b)).timestamp())
        lines = []
        for i in range(rows):
            subject = subjects[r["fam"][i]]
            ts = first + r["secs"][i]
            user = f"u{r['user'][i]}"
            payload = {
                "event_id": f"ev-{seed}-{b}-{i}",
                "event_name": subject.rsplit(".", 1)[-1],
                "user_id": user,
                "session_id": f"s{r['user'][i]}-{b}",
                "anonymous_id": f"a{r['user'][i]}",
                "timestamp": ts,
                "service_origin": "api",
                "platform": ("web", "android", "ios")[r["user"][i] % 3],
                "platform_version": "14",
                "os_name": "linux",
                "os_version": "6.1",
                "browser_name": "firefox",
                "browser_version": "128",
                "device_type": "mobile",
                "screen_resolution": "1080x2400",
                "user_agent": "Mozilla/5.0",
                **_extras(subject, r, i),
            }
            text = json.dumps(payload)
            kind = r["kind"][i]
            if kind < UNKNOWN_SHARE:
                subject = UNKNOWN_SUBJECTS[i % len(UNKNOWN_SUBJECTS)]
                dlq["unroutable_subject"] += 1
            elif kind < UNKNOWN_SHARE + CORRUPT_SHARE:
                text = text[: len(text) // 2]  # truncated in flight
                dlq["decode_error"] += 1
            else:
                table_rows[BY_SUBJECT[subject].table] += 1
                if subject == "events.angulak.watch":
                    day = datetime.fromtimestamp(ts, timezone.utc).date().isoformat()
                    watch_rows[day] += 1
                    watch_users[day].add(user)
                    quality[QUALITIES[r["quality"][i]]] += 1
                elif subject == "events.shahrefarang.item":
                    genres.update(payload["genres"])
            lines.append(json.dumps({"subject": subject, "payload": text}))
        bdir = os.path.join(out_dir, f"batch-{b:03d}")
        os.makedirs(bdir)
        with open(os.path.join(bdir, "part-00000.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        expected.append(
            {
                "table_rows": dict(table_rows),
                "dlq": dict(dlq),
                "watch_rows": dict(watch_rows),
                "watch_dau": {d: len(u) for d, u in watch_users.items()},
                "genres": dict(genres),
                "quality": dict(quality),
            }
        )
    return expected
