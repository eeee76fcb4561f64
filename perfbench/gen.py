"""Seeded input generator for the benchmark.

Everything the program reads comes from here, drawn from one numpy
PCG64 stream per call, so the same seed writes byte-identical files:

* ``write_tables`` -- the star schema plus ``events``, ``documents``
  and ``embeddings`` with the shapes and distributions of the
  repository's synthetic test data (31-word vocabulary, U(10,100)-word
  documents, Exp(50) event values over January 2024, unit-norm 64-dim
  embeddings, TPC-H-like key ranges scaled by ``sf``).
* ``ExportStream`` -- Claude and ChatGPT conversation re-exports in the
  shapes of the reference exporter (``uni_parse.py``): Claude
  ``chat_messages`` arrays and ChatGPT ``mapping`` trees with a
  regenerated (branched) reply. Conversation ids come from a bounded
  space, so the upserted store stops growing after a few arrivals.
  The stream keeps a model of the store and derives the counts the
  views over it must return.
"""

from __future__ import annotations

import json
import os
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.412, 0.140, 0.149, 0.148, 0.151]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "PROMO", "SMALL"]
P_ADJ = ["large", "hot", "blue", "red", "small", "green", "dim", "shiny"]
P_NOUN = ["ring", "bolt", "gear", "wheel", "cap", "rod", "plate", "pin"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
GPT_MODELS = ["gpt-4o", "gpt-4o-mini", "o1"]

US = 1_000_000


def _write(out_dir: str, name: str, cols: dict) -> int:
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return t.num_rows


def write_tables(out_dir: str, seed: int, sf: float, docs_sf: float) -> dict[str, int]:
    """Write every table, documents and embeddings at scale factor
    ``docs_sf`` and the rest at ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vec = int(50_000 * docs_sf), int(20_000 * docs_sf)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), n_part)]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    odate = (
        np.datetime64("1995-01-01") + rng.integers(0, 2405, n_ord).astype("timedelta64[D]")
    ).astype("datetime64[us]")
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 96, n_li).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": ship,
    })
    ts = np.datetime64("2024-01-01T00:00:00") + np.sort(
        rng.integers(0, 30 * 86400 * US, n_ev)
    ).astype("timedelta64[us]")
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    wc = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(wc.sum()))]
    texts = [" ".join(c) for c in np.split(words, np.cumsum(wc)[:-1])]
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return rows


# ---------------------------------------------------------------------------
# conversation re-exports
# ---------------------------------------------------------------------------

T0 = 1_704_067_200  # 2024-01-01T00:00:00Z


def _iso(sec: int) -> str:
    return np.datetime_as_string(np.datetime64(sec, "s")) + "Z"


def bfs_nodes(mapping: dict) -> list[str]:
    """Message-bearing node ids of a ChatGPT mapping in the ingest's
    visit order: every root sorted by id, children in array order."""
    queue = deque(sorted(k for k, v in mapping.items() if not v.get("parent")))
    seen, out = set(), []
    while queue:
        nid = queue.popleft()
        if nid in seen or nid not in mapping:
            continue
        seen.add(nid)
        queue.extend(mapping[nid].get("children") or [])
        if mapping[nid].get("message"):
            out.append(nid)
    return out


class ExportStream:
    """Seeded arrivals of conversation exports over ``n_convs`` Claude
    and ``n_convs`` ChatGPT conversation ids (a platform's first export
    holds all of them, each later one re-exports ``per_file``), plus a
    model of the upserted store: ``store_convs`` maps id -> platform,
    ``store_msgs`` maps id -> (conversation_id, order_index, sender,
    model, content)."""

    def __init__(self, seed: int, n_convs: int = 24, per_file: int = 8):
        self.rng = np.random.default_rng([seed, 1])
        self.n_convs, self.per_file = n_convs, per_file
        self.version = 0
        self.seen: set[str] = set()
        self.store_convs: dict[str, str] = {}
        self.store_msgs: dict[str, tuple] = {}

    def _text(self, n_words: int) -> str:
        return " ".join(np.array(VOCAB)[self.rng.integers(0, len(VOCAB), n_words)])

    def write(self, path: str, platform: str) -> tuple[int, int]:
        """Write the next arrival of ``platform`` to ``path`` and apply
        it to the store model; returns (conversations, messages) in
        the file."""
        self.version += 1
        if platform in self.seen:  # a re-export of some conversations
            ids = sorted(self.rng.choice(self.n_convs, self.per_file, replace=False))
        else:  # the first export of a platform holds every conversation
            ids = range(self.n_convs)
            self.seen.add(platform)
        make = self._claude if platform == "claude" else self._chatgpt
        convs, batch = [], {}
        for cid in ids:
            conv, msgs = make(int(cid))
            convs.append(conv)
            batch.update(msgs)
        with open(path, "w") as f:
            json.dump(convs, f, sort_keys=True)
        for conv in convs:
            key = conv.get("uuid") or conv.get("conversation_id")
            self.store_convs[key] = platform
        self.store_msgs.update(batch)
        return len(convs), len(batch)

    def _claude(self, cid: int):
        uid, t = f"c-{cid}", T0 + cid * 3600
        n = int(self.rng.integers(2, 11))
        msgs, rows = [], {}
        for j in range(n):
            sender = "human" if j % 2 == 0 else "assistant"
            text = self._text(int(self.rng.integers(3, 30)))
            mid = f"{uid}-m{j}"
            msgs.append({
                "uuid": mid, "sender": sender, "text": text,
                "created_at": _iso(t + 60 * j), "attachments": [],
            })
            rows[mid] = (uid, j, sender, "claude", text)
        conv = {
            "uuid": uid, "name": f"Claude chat {cid} v{self.version}",
            "created_at": _iso(t), "updated_at": _iso(t + 60 * n + self.version),
            "account": {"uuid": f"acct-{cid % 5}"}, "summary": f"v{self.version}",
            "chat_messages": msgs,
        }
        return conv, rows

    def _chatgpt(self, cid: int):
        """A user/assistant chain under a message-less root, with one
        user turn answered twice (a regenerated reply). Node ids are
        assigned in visit order, so an id keeps its order_index across
        re-exports and stale ids in the store never tie."""
        gid, t = f"g-{cid}", T0 + cid * 3600 + 1800
        turns = int(self.rng.integers(1, 5))
        branch = int(self.rng.integers(0, turns))
        model = GPT_MODELS[int(self.rng.integers(0, len(GPT_MODELS)))]
        # shape: list of (role, parent position) in creation order
        shape, parent = [], None
        for k in range(turns):
            shape.append(("user", parent))
            parent = len(shape) - 1
            shape.append(("assistant", parent))
            if k == branch:
                shape.append(("assistant", parent))
            parent = len(shape) - 1 if k != branch else len(shape) - 2
        children: dict = {i: [] for i in range(-1, len(shape))}
        for i, (_, p) in enumerate(shape):
            children[-1 if p is None else p].append(i)
        order, queue = [], deque(children[-1])
        while queue:
            i = queue.popleft()
            order.append(i)
            queue.extend(children[i])
        name = {i: f"{gid}-n{pos}" for pos, i in enumerate(order)}
        root = f"{gid}-root"
        mapping = {root: {"parent": None, "children": [name[i] for i in children[-1]],
                          "message": None}}
        rows = {}
        for pos, i in enumerate(order):
            role, p = shape[i]
            text = self._text(int(self.rng.integers(3, 30)))
            nid = name[i]
            mapping[nid] = {
                "parent": root if p is None else name[p],
                "children": [name[c] for c in children[i]],
                "message": {
                    "id": nid, "author": {"role": role},
                    "content": {"content_type": "text", "parts": [text]},
                    "create_time": float(t + 30 * pos) + 0.5,
                    "metadata": {"model_slug": model} if role == "assistant" else {},
                },
            }
            sender = "human" if role == "user" else "assistant"
            rows[nid] = (gid, pos, sender, model if role == "assistant" else "unknown", text)
        assert [name[i] for i in order] == bfs_nodes(mapping)
        conv = {
            "conversation_id": gid, "title": f"GPT chat {cid} v{self.version}",
            "create_time": t, "update_time": t + 30 * len(order) + self.version,
            "mapping": mapping,
        }
        return conv, rows

    # -- expected view outputs over the modelled store ------------------

    def expect(self, term: str) -> dict:
        by_conv: dict[str, list] = {}
        for mid, (cid, idx, sender, model, text) in self.store_msgs.items():
            by_conv.setdefault(cid, []).append((idx, sender))
        pairs = 0
        for msgs in by_conv.values():
            msgs.sort()
            pairs += sum(
                a[1] == "human" and b[1] == "assistant" for a, b in zip(msgs, msgs[1:])
            )
        usage: dict = {}
        for cid, _idx, _sender, model, _text in self.store_msgs.values():
            k = (self.store_convs[cid], model)
            n, cs = usage.get(k, (0, set()))
            cs.add(cid)
            usage[k] = (n + 1, cs)
        senders = [m[2] for m in self.store_msgs.values()]
        return {
            "convs": len(self.store_convs),
            "msgs": len(self.store_msgs),
            "summary": (
                len(self.store_convs), len(senders),
                senders.count("human"), senders.count("assistant"),
            ),
            "usage": sorted((p, m, n, len(cs)) for (p, m), (n, cs) in usage.items()),
            "pairs": pairs,
            "hits": sum(term in m[4].lower() for m in self.store_msgs.values()),
        }
