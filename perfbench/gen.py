"""Seeded input generators. Every table and change-event batch the
benchmark feeds the program is a pure function of the workload seed;
the program itself never sees the seed.

Shapes follow the repository's test tables (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`); timestamps carry millisecond
precision because the ext-JSON codec encodes `$date` in milliseconds.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
EPOCH_2024 = dt.datetime(2024, 1, 1)
EPOCH_1995 = dt.datetime(1995, 1, 1)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, named stream), so adding a table
    never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _ms_timestamps(rng, start: dt.datetime, span_s: float, n: int) -> list[dt.datetime]:
    ms = np.sort(rng.integers(0, int(span_s * 1000), n))
    return [start + dt.timedelta(milliseconds=int(m)) for m in ms]


def _days(rng, start: dt.datetime, span_days: int, n: int) -> list[dt.datetime]:
    return [start + dt.timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_parquet(path: str, columns: dict, schema: pa.Schema) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)
    return path


# ---------------------------------------------------------------- events

EVENTS_SCHEMA = pa.schema(
    [
        ("_id", pa.string()),
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("ms")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _event_doc(rng, event_id: int, ts: dt.datetime) -> tuple:
    return (
        str(event_id),
        event_id,
        ts,
        int(rng.integers(0, 1500)),
        EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
        float(np.round(rng.uniform(0.01, 330.0), 2)),
        '{"k": %d}' % int(rng.integers(0, 100)),
    )


def event_docs(seed: int, n: int) -> dict[str, tuple]:
    """The keyed table's initial documents: `_id` -> row tuple in
    EVENTS_SCHEMA order."""
    rng = rng_for(seed, "event_docs")
    ts = _ms_timestamps(rng, EPOCH_2024, 30 * 86400, n)
    user = rng.integers(0, 1500, n).tolist()
    kind = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)].tolist()
    value = np.round(rng.uniform(0.01, 330.0, n), 2).tolist()
    props = ['{"k": %d}' % k for k in rng.integers(0, 100, n)]
    return {
        str(i): (str(i), i, ts[i], user[i], kind[i], value[i], props[i]) for i in range(n)
    }


def docs_columns(docs: dict[str, tuple]) -> dict[str, list]:
    rows = list(docs.values())
    cols = {f.name: [r[k] for r in rows] for k, f in enumerate(EVENTS_SCHEMA)}
    cols["ts"] = np.array(cols["ts"], dtype="datetime64[ms]")
    return cols


class ChangeFeed:
    """Seeded change-event source over a dict model of the target
    collection. Each batch mixes inserts of new keys with updates and
    deletes of live keys (a key may change more than once per batch);
    the model applies every event with last-writer-wins replace/delete,
    which is the state the keyed sink must reach."""

    MIX = (0.3, 0.5, 0.2)  # insert, update, delete

    def __init__(self, seed: int, docs: dict[str, tuple]):
        self.rng = rng_for(seed, "change_feed")
        self.model = dict(docs)
        self.live = list(docs)
        self.next_id = max((int(k) for k in docs), default=-1) + 1
        self.batch_no = 0
        self.seq = 0

    def _pick_live(self) -> str:
        return self.live[int(self.rng.integers(0, len(self.live)))]

    def next_batch(self, size: int) -> list[str]:
        """`size` change events as F1 change-event JSON lines."""
        self.batch_no += 1
        base = EPOCH_2024 + dt.timedelta(days=31, seconds=self.batch_no)
        ops = self.rng.choice(3, size=size, p=self.MIX)
        lines = []
        for op in ops:
            self.seq += 1
            if op == 0 or len(self.live) < 2:
                key = str(self.next_id)
                self.next_id += 1
                doc = _event_doc(self.rng, int(key), base)
                self.model[key] = doc
                self.live.append(key)
                kind, ud = "insert", None
            elif op == 1:
                key = self._pick_live()
                old = self.model[key]
                value = float(np.round(self.rng.uniform(0.01, 330.0), 2))
                doc = (*old[:5], value, old[6])
                self.model[key] = doc
                kind = "update"
                ud = {"updatedFields": {"value": json.dumps(value)}, "removedFields": []}
            else:
                key = self._pick_live()
                del self.model[key]
                self.live.remove(key)
                doc, kind, ud = None, "delete", None
            lines.append(
                json.dumps(
                    {
                        "operationType": kind,
                        "clusterTime": {"t": self.batch_no, "i": self.seq},
                        "ns": {"db": "bench", "coll": "events"},
                        "documentKey": {"_id": key},
                        "fullDocument": None if doc is None else _doc_json(doc),
                        "updateDescription": ud,
                    },
                    sort_keys=True,
                )
            )
        return lines


def _doc_json(doc: tuple) -> dict:
    out = dict(zip(EVENTS_SCHEMA.names, doc))
    out["ts"] = doc[2].isoformat(timespec="milliseconds")
    return out


def write_lines(path: str, lines: list[str]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


# -------------------------------------------------------------- lineitem

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("ms")),
    ]
)


def lineitem_columns(rng, n_orders: int, n_parts: int, n_supp: int) -> dict[str, list]:
    per_order = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    n = len(orderkey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, EPOCH_1995, 2500, n),
    }


# ------------------------------------------------------ query-suite tables


def write_star_schema(seed: int, out_dir: str, scale: float = 0.001) -> str:
    """All ten tables the query suite reads, at `scale` (1.0 ~ TPC-H
    sf1 row counts for the star schema), as `<out_dir>/<table>.parquet`."""
    r = lambda name: rng_for(seed, name)  # noqa: E731
    n_cust, n_supp, n_part = (max(10, int(k * scale)) for k in (150_000, 10_000, 200_000))
    n_orders, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs = n_emb = max(200, int(500_000 * scale))

    def table(name, cols, schema):
        write_parquet(os.path.join(out_dir, f"{name}.parquet"), cols, pa.schema(schema))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    table("region", {"r_regionkey": list(range(5)), "r_name": regions},
          [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    table("nation", {"n_nationkey": list(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": [i % 5 for i in range(25)]},
          [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())])
    g = r("customer")
    table("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(g, -999.0, 9999.0, n_cust),
        "c_mktsegment": np.array(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
        )[g.integers(0, 5, n_cust)],
    }, [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())])
    g = r("supplier")
    table("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(g, -999.0, 9999.0, n_supp),
    }, [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64())])
    g = r("part")
    adj = np.array(["small", "blue", "cold", "old", "new", "hot", "red", "large"])
    noun = np.array(["widget", "rod", "ring", "anvil", "plate", "bolt", "gear"])
    table("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj[g.integers(0, 8, n_part)],
                                              noun[g.integers(0, 7, n_part)])],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"])[
            g.integers(0, 6, n_part)],
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
    }, [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    g = r("orders")
    table("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_orders)],
        "o_totalprice": _money(g, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(g, EPOCH_1995, 2400, n_orders),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[g.integers(0, 5, n_orders)],
    }, [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("ms")),
        ("o_orderpriority", pa.string())])
    table("lineitem", lineitem_columns(r("lineitem"), n_orders, n_part, n_supp),
          LINEITEM_SCHEMA)
    g = r("events")
    ev = [_event_doc(g, i, t) for i, t in
          enumerate(_ms_timestamps(g, EPOCH_2024, 30 * 86400, n_events))]
    table("events", {f.name: [e[k] for e in ev] for k, f in enumerate(EVENTS_SCHEMA)
                     if f.name != "_id"}, [f for f in EVENTS_SCHEMA if f.name != "_id"])
    g = r("documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i and g.random() < 0.25:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[g.integers(0, len(WORDS), g.integers(8, 90))]))
    table("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[g.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])
    g = r("embeddings")
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(size=(10, 64))
    vecs = centers[labels] + g.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }, [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    return out_dir
