"""Seeded input generators for the benchmark.

Two families, both pure functions of the seed:

- FullStory-shaped export records (the shape of hauser's ``raw.json``):
  an hourly backlog with a diurnal size swing, typed custom vars, and a
  few CSV edge-case strings (comma, quote, CR/LF, leading space/tab,
  ``\\.``, non-ASCII). ``write_fixture`` writes them as the JSON array
  ``LocalFixtureClient`` reads.

  The record mix is a choice, not a measurement: no real export was at
  hand to copy field distributions from. Text fields hold plain values,
  and ``EDGE_PER_BUNDLE`` records of each bundle (5 to 10% of them) carry one
  edge-case string each. The edge cases rotate so that any three
  consecutive bundles hold all of them, and the checks see every one.
- The ten analytic tables the query catalog reads (``region`` …
  ``embeddings``), written as parquet with the column names and types of
  the catalog's star schema.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

UTC = dt.timezone.utc

EDGE_STRINGS = (
    "plain",
    "a,b,c",
    'say "hi"',
    "line1\nline2",
    "cr\rhere",
    "crlf\r\nend",
    " leading space",
    "\tleading tab",
    "\\.",
    "naïve café",
    "日本語テキスト",
    "emoji 😀 ok",
    "<b>&amp;</b>",
    "",
    'mix, "all"\n of\tthem ',
)

# Edge-case records per bundle: 3 consecutive bundles hold 15, one per string.
EDGE_PER_BUNDLE = 5
PLAIN_TEXT = ("Add to cart", "Sign in", "Next", "Search", "Checkout", "Home", "Pricing")
EVENT_TYPES = ("click", "navigate", "change", "thrash", "load", "error")
BROWSERS = ("Chrome", "Firefox", "Safari", "Edge")
DEVICES = ("Desktop", "Mobile", "Tablet")

# Custom-var families requested by the export (user_*/evt_*/page_*), typed
# by suffix the way hauser's fixtures are.
_SUFFIXES = ("_str", "_int", "_real", "_bool")


def _iso(t: dt.datetime) -> str:
    """FullStory export timestamp text (RFC 3339, UTC, microseconds)."""
    return t.astimezone(UTC).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


CUSTOM_VARS = [
    f"{('user', 'evt', 'page')[i % 3]}_v{i:02d}{_SUFFIXES[i % 4]}" for i in range(6)
]


# The text fields an edge-case string may land in, one per edge record.
EDGE_FIELDS = ("UserDisplayName", "EventTargetText", "PageName", CUSTOM_VARS[0])


def _custom_value(rng: random.Random, name: str):
    if name.endswith("_str"):
        return f"val{rng.randrange(1000)}"
    if name.endswith("_int"):
        return rng.randrange(-5000, 5000)
    if name.endswith("_real"):
        return rng.randrange(-100000, 100000) / 100.0
    return rng.random() < 0.5


def make_record(rng: random.Random, t: dt.datetime, seq: int) -> dict:
    """One export record. Optional fields are sometimes absent, as in real
    exports; ``EventPageOffset`` carries ``seq`` so each record is unique."""
    user = rng.randrange(1, 5000)
    session = user * 1000 + rng.randrange(20)
    rec = {
        "IndvId": user,
        "UserId": user,
        "SessionId": session,
        "PageId": session * 100 + rng.randrange(50),
        "UserCreated": _iso(t - dt.timedelta(days=rng.randrange(1, 400))),
        "UserAppKey": f"key-{user}",
        "UserDisplayName": f"User {user}",
        "UserEmail": f"u{user}@example.com",
        "EventStart": _iso(t),
        "EventType": rng.choice(EVENT_TYPES),
        "EventTargetText": rng.choice(PLAIN_TEXT),
        "EventTargetSelector": f"div#x{rng.randrange(100)} > a",
        "EventPageOffset": seq,
        "EventSessionOffset": rng.randrange(10**6),
        "EventModFrustrated": rng.randrange(2),
        "EventModDead": rng.randrange(2),
        "EventModError": rng.randrange(2),
        "EventModSuspicious": 0,
        "EventCumulativeLayoutShift": rng.randrange(1000) / 1000.0,
        "SessionStart": _iso(t - dt.timedelta(seconds=rng.randrange(3600))),
        "PageName": rng.choice(PLAIN_TEXT),
        "PageStart": _iso(t - dt.timedelta(seconds=rng.randrange(600))),
        "PageDuration": rng.randrange(10**5),
        "PageUrl": f"https://example.com/p/{rng.randrange(500)}?q=a,b",
        "PageRefererUrl": f"https://search.example/?q=item{rng.randrange(100)}",
        "PageIp": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
        "PageLatLong": f"{rng.randrange(-90, 90)}.5,{rng.randrange(-180, 180)}.25",
        "PageUserAgent": "Mozilla/5.0 (X11; Linux x86_64)",
        "PageBrowser": rng.choice(BROWSERS),
        "PageDevice": rng.choice(DEVICES),
        "PageScreenWidth": rng.choice((1280, 1920, 390)),
        "PageScreenHeight": rng.choice((720, 1080, 844)),
        "PageNumEvents": rng.randrange(500),
        "PageMaxScrollDepthPercent": rng.randrange(101),
        "LoadDomContentTime": rng.randrange(5000),
    }
    if rng.random() < 0.5:
        rec["EventSubType"] = rng.choice(("", "submit", "focus"))
    if rng.random() < 0.3:
        rec["ReqUrl"] = f"https://api.example.com/v1/{rng.randrange(50)}"
        rec["ReqMethod"] = rng.choice(("GET", "POST"))
        rec["ReqStatus"] = rng.choice((200, 404, 500))
    for name in CUSTOM_VARS:
        if rng.random() < 0.85:
            rec[name] = _custom_value(rng, name)
    return rec


def hourly_backlog(
    seed: int, start: dt.datetime, hours: int, mean_records: int = 100
) -> list[dict]:
    """``hours`` of hourly bundles whose sizes swing ±50% over the day.
    The first ``EDGE_PER_BUNDLE`` records of bundle ``h`` carry edge cases
    ``EDGE_PER_BUNDLE * h`` onwards, one each, in rotating fields."""
    rng = random.Random(seed)
    out: list[dict] = []
    seq = 0
    for h in range(hours):
        t0 = start + dt.timedelta(hours=h)
        swing = 1.0 + 0.5 * math.sin(2 * math.pi * (t0.hour - 9) / 24)
        n = max(EDGE_PER_BUNDLE, int(mean_records * swing) + rng.randrange(-5, 6))
        for i in range(n):
            t = t0 + dt.timedelta(microseconds=rng.randrange(3600 * 10**6))
            rec = make_record(rng, t, seq)
            if i < EDGE_PER_BUNDLE:
                k = EDGE_PER_BUNDLE * h + i
                rec[EDGE_FIELDS[k % len(EDGE_FIELDS)]] = EDGE_STRINGS[k % len(EDGE_STRINGS)]
            out.append(rec)
            seq += 1
    return out


def write_fixture(path: str, records: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(records, f, ensure_ascii=False)


# ---------------------------------------------------------------- tables

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ("red", "old", "cold", "hot", "new", "large", "small", "blue")
_PART_NOUN = ("bolt", "plate", "widget", "gear", "ring", "anvil", "rod", "gizmo")


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """The catalog's ten tables at ``scale`` (1.0 ≈ 6M lineitem rows).
    Returns the row count of each table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc, n_emb = 500, 500
    day = np.datetime64("1995-01-01", "us")
    us_per_day = 86_400_000_000

    def money(lo, hi, n):
        return np.round(rs.uniform(lo, hi, n), 2)

    def pick(choices, n):
        return pa.array(np.asarray(choices, dtype=object)[rs.integers(0, len(choices), n)])

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(
                ("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"), n_cust
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rs.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rs.integers(1, 26, n_part)]),
            "p_type": pick(("SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE"), n_part),
            "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + rs.integers(0, 1000, n_part) / 10, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(money(1000, 500000, n_ord)),
            "o_orderdate": pa.array(day + rs.integers(0, 2404, n_ord) * us_per_day),
            "o_orderpriority": pick(
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rs.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rs.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rs.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rs.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rs.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(money(900, 105000, n_li)),
            "l_discount": pa.array(rs.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rs.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": pa.array(day + rs.integers(1, 2500, n_li) * us_per_day),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.sort(
                    np.datetime64("2024-01-01", "us")
                    + rs.integers(0, 30 * us_per_day, n_ev)
                )
            ),
            "user_id": pa.array(rs.integers(0, 150, n_ev), pa.int64()),
            "event_type": pick(("click", "signup", "error", "view", "purchase"), n_ev),
            "value": pa.array(np.round(rs.uniform(0.01, 490.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)]),
        },
        "documents": {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(
                [
                    " ".join(np.asarray(_WORDS)[rs.integers(0, len(_WORDS), rs.integers(10, 100))])
                    for _ in range(n_doc)
                ]
            ),
            "lang": pick(("en", "en", "en", "fr", "es", "zh", "de"), n_doc),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(
                list(rs.normal(0, 0.125, (n_emb, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rs.integers(0, 10, n_emb), pa.int32()),
        },
    }
    docs = tables["documents"]
    docs["n_chars"] = pa.array([len(t) for t in docs["text"].to_pylist()], pa.int64())
    counts = {}
    for name, cols in tables.items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
