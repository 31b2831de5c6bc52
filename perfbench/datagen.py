"""Seeded input generators for the benchmark.

Everything the library reads is made here from the run's seed:

* ``write_tables`` writes TPC-H-style parquet tables plus ``events`` in
  the layout ``catalog.load_table`` reads (``<dir>/<table>.parquet``),
  with the value domains of the project's test data, so the analytics
  queries and their DuckDB oracles see realistic inputs.
* ``FeedSet`` writes one directory of MapShare KML feeds per poll
  generation and keeps, in plain Python, the expected latest feature per
  ``(share, IMEI)`` after each generation.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_ORDERS = dt.datetime(1995, 1, 1)
EPOCH_EVENTS = dt.datetime(2024, 1, 1)
TS = pa.timestamp("us")


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every catalog table for one seed. ``sf`` scales the
    relational tables as TPC-H does (lineitem ~ 6M x sf rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 25), int(200_000 * sf)
    n_ord, n_events, n_users = int(1_500_000 * sf), int(1_000_000 * sf), 150

    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation",
           {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                  ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                  ("s_acctbal", pa.float64())]))
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pk, "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                  ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    odate = np.datetime64(EPOCH_ORDERS, "us") + odays.astype("timedelta64[D]")
    _write(out_dir, "orders", {
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": odate, "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                  ("o_totalprice", pa.float64()), ("o_orderdate", TS), ("o_orderpriority", pa.string())]))

    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, n_li, dtype=np.int64)
    ship = odate[l_ord] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ord, "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64), "l_linenumber": l_num,
        "l_quantity": qty, "l_extendedprice": np.round(qty * (900 + (l_part % 1000) * 0.1) * rng.uniform(0.5, 2.3, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0, "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li), "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ship,
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                  ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                  ("l_linestatus", pa.string()), ("l_shipdate", TS)]))

    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64(EPOCH_EVENTS, "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }, pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    # The catalog also lists documents and embeddings; no op reads them,
    # so they are written empty, with their schema only.
    _write(out_dir, "documents", {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())]))
    _write(out_dir, "embeddings", {"vec_id": [], "embedding": [], "label": []},
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]))


# ---------------------------------------------------------------- feeds

EPOCH_FEEDS = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
GEN_SPAN_S = 3600  # each generation's fresh positions fall in its own hour


def _kml(placemarks: list[str]) -> str:
    return ('<?xml version="1.0" encoding="UTF-8"?><kml xmlns="http://www.opengis.net/kml/2.2">'
            "<Document><Folder>" + "".join(placemarks) + "</Folder></Document></kml>")


def _placemark(when: str | None, coords: str | None, data: dict[str, str]) -> str:
    out = "<Placemark>"
    if when is not None:
        out += f"<TimeStamp><when>{when}</when></TimeStamp>"
    if coords is not None:
        out += f"<Point><coordinates>{coords}</coordinates></Point>"
    out += "<ExtendedData>" + "".join(
        f'<Data name="{k}"><value>{v}</value></Data>' for k, v in data.items()) + "</ExtendedData>"
    return out + "</Placemark>"


class FeedSet:
    """Seeded MapShare feeds, one directory per poll generation.

    Edge cases of the reference poller, all drawn from the seed:
    missing feeds (error rows) and malformed XML (feed dropped whole),
    a fixed share of the feeds in every generation,
    placemarks with no Point (skipped), equal timestamps for one device
    within a feed (first in document order wins), stale positions older
    than the silver table's (ignored) and devices that repeat across
    generations. ``expected[g]`` is the silver content after applying
    generations 0..g: ``{(share_id, imei): (time, lon, lat, alt)}``."""

    DEVICES_PER_SHARE = 12
    # One feed in 16 is bad in each generation (at least one): at 32
    # shares, one missing and one malformed feed per poll.
    BAD_FEED_RATE = 1 / 16

    def __init__(self, root: str, seed: int, shares: int, placemarks: int, generations: int):
        self.root = root
        self.share_ids = [f"SHR{seed % 1000:03d}{k:03d}" for k in range(shares)]
        rng = random.Random(seed * 7919 + 17)
        pools = {s: [f"3{rng.randrange(10**13, 10**14)}" for _ in range(self.DEVICES_PER_SHARE)]
                 for s in self.share_ids}
        # one device reports into two shares: dedup is per share
        pools[self.share_ids[-1]][0] = pools[self.share_ids[0]][0]
        state: dict[tuple[str, str], tuple] = {}
        self.expected: list[dict] = []
        for g in range(generations):
            gdir = os.path.join(root, f"g{g:04d}")
            os.makedirs(gdir, exist_ok=True)
            # every generation has the same number of bad feeds, half
            # missing and half malformed, so each poll does the same work
            bad = {s: (g + i) % 2 == 0 for i, s in
                   enumerate(rng.sample(self.share_ids, max(1, round(shares * self.BAD_FEED_RATE))))}
            for s in self.share_ids:
                if bad.get(s):
                    continue  # missing feed -> source error row
                pms, latest = [], {}
                for i in range(placemarks):
                    imei = rng.choice(pools[s])
                    if rng.random() < 0.08:  # no Point: skipped, may lack keys
                        pms.append(_placemark(_iso(g, rng), None, {"IMEI": imei, "Id": f"m{g}-{i}"}))
                        continue
                    if latest.get(imei) and rng.random() < 0.15:
                        t = latest[imei][0]  # timestamp tie within the feed
                    elif rng.random() < 0.05:
                        t = EPOCH_FEEDS - dt.timedelta(seconds=GEN_SPAN_S * (g + 1) + rng.randrange(3000))
                    else:
                        t = EPOCH_FEEDS + dt.timedelta(seconds=GEN_SPAN_S * g + rng.randrange(3000))
                    lon, lat, alt = (round(rng.uniform(-180, 180), 5), round(rng.uniform(-80, 80), 5),
                                     round(rng.uniform(0, 4000), 1))
                    pms.append(_placemark(t.strftime("%Y-%m-%dT%H:%M:%SZ"), f"{lon},{lat},{alt}", {
                        "Id": f"m{g}-{i}", "Name": f"dev {imei[-4:]}", "IMEI": imei,
                        "Device Type": "inReach Mini", "Device Identifier": f"id-{imei[-6:]}",
                        "Course": f"{rng.randrange(360)}.00 ° True",
                        "Velocity": f"{rng.randrange(120)}.0 km/h",
                        "Valid GPS Fix": "True", "Event": "Tracking message received.",
                    }))
                    if imei not in latest or t > latest[imei][0]:
                        latest[imei] = (t, lon, lat, alt)
                body = _kml(pms)
                if s in bad:
                    body = body[: len(body) // 2]  # malformed XML: the whole feed is dropped
                else:
                    for imei, v in latest.items():
                        old = state.get((s, imei))
                        if old is None or v[0] > old[0]:
                            state[(s, imei)] = v
                with open(os.path.join(gdir, s), "w", encoding="utf-8") as fh:
                    fh.write(body)
            self.expected.append(dict(state))

    def base_url(self, g: int) -> str:
        return f"file://{os.path.join(self.root, f'g{g:04d}')}/"


def _iso(g: int, rng: random.Random) -> str:
    t = EPOCH_FEEDS + dt.timedelta(seconds=GEN_SPAN_S * g + rng.randrange(3000))
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")
