"""Seeded input generators. The same seed always yields the same bytes;
the engine only ever sees the generated files. The star schema uses a
fixed seed of its own, so it is the same for every ``--seed``."""

from __future__ import annotations

import json
import os
import random
import string
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------- Zipf text


def zipf_text(path: str, lines: int, seed: int, vocab: int, skew: float) -> list[str]:
    """Write ``lines`` lines of 6-14 space-separated words drawn from a
    seeded ``vocab``-word vocabulary with Zipf(``skew``) frequencies;
    return the lines."""
    rng = random.Random(seed)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < vocab:
        w = "".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cum = []
    total = 0.0
    for rank in range(1, vocab + 1):
        total += rank ** -skew
        cum.append(total)
    out = [
        " ".join(rng.choices(words, cum_weights=cum, k=rng.randint(6, 14)))
        for _ in range(lines)
    ]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out) + "\n")
    return out


# ------------------------------------------------------- star schema

_EPOCH_1995_US = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
_DAY_US = 86_400 * 10**6
_DOC_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data join"
).split()


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


STAR_SEED = 20130  # fixed: every run reads the same tables


def star_schema(out_dir: str, sf: float = 0.1) -> None:
    """A TPC-H-shaped star schema plus the events/documents/embeddings
    tables, one single-row-group parquet file per table, with the
    column names and types of the engine's query registry. The tables
    depend on ``sf`` only."""
    rng = np.random.default_rng(STAR_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders = int(1_500_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.array(["large ring", "hot bolt", "small nut", "red gear"])[
            rng.integers(0, 4, n_part)
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 40, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL"])[rng.integers(0, 4, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 20_000 * 0.1, 2),
    })

    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_EPOCH_1995_US + order_days * _DAY_US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)],
    })

    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype="int64"), per_order)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    quantity = rng.integers(1, 51, n_li).astype("float64")
    ship_days = np.repeat(order_days, per_order) + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995_US + ship_days * _DAY_US),
    })

    n_events = int(1_000_000 * sf)
    ev_start = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * _DAY_US, n_events))),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)
        ],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    n_docs = int(50_000 * sf)
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(5, 80, n_docs)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(["en", "de", "zh"])[rng.integers(0, 3, n_docs)],
        "source": [f"src{i % 4}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    n_vec = 64
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(
            list(rng.standard_normal((n_vec, 64)).astype("float32")), pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 4, n_vec), pa.int32()),
    })


# ------------------------------------------------------- event stream

EVENT_SCHEMA_DDL = "event_id LONG, ts TIMESTAMP, created_us LONG, user_id LONG, kind STRING"


def _iso_ms(epoch_s: float) -> str:
    dt = datetime.fromtimestamp(epoch_s, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


class EventSchedule:
    """A seeded open-loop schedule of JSON event files.

    Tick ``i`` is due ``i * tick_s`` seconds after the schedule starts
    and carries ``per_tick`` new events plus replays of earlier ones:
    a ``dup_share`` of events is sent again 1-10 ticks later with a
    slightly later event time (an at-least-once retry), and an
    ``ooo_share`` carries an event time up to ``ooo_max_s`` before its
    creation (bounded out-of-order, well inside the watermark). Event
    times are relative offsets until ``render`` stamps them against
    the real start time, so the content is fixed by the seed.
    """

    def __init__(self, seed: int, ticks: int, per_tick: int, tick_s: float,
                 first_id: int, dup_share: float = 0.1, ooo_share: float = 0.1,
                 ooo_max_s: float = 2.0):
        rng = random.Random(seed)
        self.tick_s = tick_s
        # per tick: list of (event_id, event-time offset s, user, kind)
        self.ticks: list[list[tuple[int, float, int, str]]] = [[] for _ in range(ticks)]
        self.ids: list[int] = []
        kinds = ("click", "view", "purchase", "signup")
        next_id = first_id
        for i in range(ticks):
            due = i * tick_s
            for _ in range(per_tick):
                eid = next_id
                next_id += 1
                self.ids.append(eid)
                ev_off = due - rng.uniform(0, ooo_max_s) if rng.random() < ooo_share else due
                user, kind = rng.randrange(10_000), rng.choice(kinds)
                self.ticks[i].append((eid, ev_off, user, kind))
                if rng.random() < dup_share:
                    later = i + rng.randint(1, 10)
                    if later < ticks:
                        self.ticks[later].append((eid, ev_off + 0.05, user, kind))
        self.created_off = {}
        for i, tick in enumerate(self.ticks):
            for eid, _, _, _ in tick:
                self.created_off.setdefault(eid, i * self.tick_s)

    @property
    def lines(self) -> int:
        return sum(len(t) for t in self.ticks)

    def render(self, tick: int, start_s: float) -> str:
        """JSON-lines body of one tick's file, stamped against the
        schedule's wall-clock start."""
        out = []
        for eid, ev_off, user, kind in self.ticks[tick]:
            out.append(json.dumps({
                "event_id": eid,
                "ts": _iso_ms(start_s + ev_off),
                "created_us": int((start_s + self.created_off[eid]) * 1e6),
                "user_id": user,
                "kind": kind,
            }))
        return "\n".join(out) + "\n"
