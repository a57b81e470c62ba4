"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``: the TPC-H-ish
fixture tables the graded queries read, the ``orders`` base table the CDC
workloads load, and the Debezium-shaped change events applied to it. The
same seed gives byte-identical inputs. Value domains follow the fixture
layout documented in the repository's TESTDATA/FIXTURES notes (uniform
keys, five order priorities, a 31-word document vocabulary with ~5% near
duplicates, 64-d unit embeddings in ten labelled clusters).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
])
ORDER_COLS = ORDERS_SCHEMA.names


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng, n, span_days, epoch=EPOCH_1995):
    return epoch + rng.integers(0, span_days, n) * np.timedelta64(1, "D").astype("timedelta64[us]")


def orders_table(rng, n_orders: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _pick(rng, STATUSES, n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, 2405),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    }, schema=ORDERS_SCHEMA)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate: an earlier document with its tail replaced
            words = texts[int(rng.integers(0, i))].split()
            k = int(rng.integers(1, 3))
            words = words[:-k] + ["dup"] * k
        else:
            words = list(_pick(rng, VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centers[label] + rng.normal(0, 1.5, (n, dim))
    dup = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    vec[dup] = vec[src[dup]] + rng.normal(0, 0.01, (int(dup.sum()), dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables the graded queries read at scale
    factor ``sf`` (sf=1 ≈ 1.5M orders). Returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), max(200, int(50_000 * sf)), max(200, int(50_000 * sf))
    tables = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": orders_table(rng, n_ord, n_cust),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, 2499, EPOCH_1995 + np.timedelta64(1, "D")),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ----------------------------------------------------------------- CDC

DELETE_SHARE, INSERT_SHARE = 0.1, 0.2  # the rest are updates
EVENT_EPOCH_MS = 1_700_000_000_000


@dataclass
class CdcModel:
    """Driver-side replay of the table the CDC workloads mutate: the
    base rows plus every generated event, applied in order. The final
    lake table must equal ``rows`` exactly."""

    rng: np.random.Generator
    n_cust: int
    rows: dict[int, tuple] = field(default_factory=dict)
    live: list[int] = field(default_factory=list)
    pos: dict[int, int] = field(default_factory=dict)
    next_key: int = 0
    offset: int = 0
    events: int = 0
    batches: int = 0
    keys_out: int = 0   # distinct keys per batch, summed over batches

    @classmethod
    def from_base(cls, base: pa.Table, seed: int, n_cust: int) -> "CdcModel":
        m = cls(rng=np.random.default_rng([seed, 2]), n_cust=n_cust)
        cols = base.to_pydict()
        for i, k in enumerate(cols["o_orderkey"]):
            m.rows[k] = tuple(cols[c][i] for c in ORDER_COLS)
        m.live = list(m.rows)
        m.pos = {k: i for i, k in enumerate(m.live)}
        m.next_key = max(m.rows) + 1
        return m

    def _kill(self, key: int) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def _payload(self, key: int) -> tuple:
        r = self.rng
        return (
            key, int(r.integers(0, self.n_cust)), STATUSES[int(r.integers(0, 3))],
            round(float(r.uniform(1000, 500_000)), 2),
            (EPOCH_1995 + np.timedelta64(int(r.integers(0, 2405)), "D")).astype(dt.datetime),
            PRIORITIES[int(r.integers(0, 5))],
        )

    def batch(self, n_events: int) -> list[dict]:
        """One micro-batch: ~70% updates, 20% inserts, 10% deletes on
        uniformly drawn live keys; updates land on few enough keys that
        a key often carries several events in one batch. Applied to
        the model as generated."""
        out = []
        hot = [self.live[int(i)] for i in self.rng.integers(0, len(self.live), max(1, n_events // 3))]
        for _ in range(n_events):
            u = self.rng.random()
            if u < DELETE_SHARE and len(self.live) > 1:
                key = self.live[int(self.rng.integers(0, len(self.live)))]
                op, before, after = "d", self.rows.pop(key), None
                self._kill(key)
            elif u < DELETE_SHARE + INSERT_SHARE:
                key, self.next_key = self.next_key, self.next_key + 1
                op, before, after = "c", None, self._payload(key)
                self.rows[key] = after
                self.pos[key] = len(self.live)
                self.live.append(key)
            else:
                key = hot[int(self.rng.integers(0, len(hot)))]
                if key not in self.rows:  # deleted earlier in this batch
                    key = self.live[int(self.rng.integers(0, len(self.live)))]
                op, before, after = "u", self.rows[key], self._payload(key)
                self.rows[key] = after
            self.offset += 1
            out.append({"op": op, "before": before, "after": after,
                        "offset": self.offset, "ts_ms": EVENT_EPOCH_MS + self.offset})
        self.events += n_events
        self.batches += 1
        self.keys_out += len({(e["after"] or e["before"])[0] for e in out})
        return out

    @property
    def keys_per_batch(self) -> float:
        return self.keys_out / max(1, self.batches)


def _payload_json(p):
    if p is None:
        return None
    d = dict(zip(ORDER_COLS, p))
    d["o_orderdate"] = d["o_orderdate"].strftime("%Y-%m-%dT%H:%M:%S")
    return d


ENVELOPE_DDL = (
    "before struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,"
    "o_totalprice:double,o_orderdate:timestamp,o_orderpriority:string>, "
    "after struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,"
    "o_totalprice:double,o_orderdate:timestamp,o_orderpriority:string>, "
    "source struct<connector:string,db:string,table:string,ts_ms:bigint>, "
    "op string, ts_ms bigint, offset bigint"
)


def write_envelope_file(path: str, events: list[dict], mtime: float) -> None:
    """Land one micro-batch as a Debezium-shaped JSON-lines file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps({
                "before": _payload_json(e["before"]), "after": _payload_json(e["after"]),
                "source": {"connector": "mysql", "db": "tpch", "table": "orders", "ts_ms": e["ts_ms"]},
                "op": e["op"], "ts_ms": e["ts_ms"], "offset": e["offset"],
            }) + "\n")
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)
