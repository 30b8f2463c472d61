"""Seeded input generator for the benchmark workloads.

Every input a workload reads is made here from ``--seed``; nothing is read
from outside the benchmark's data directory. The same seed gives
byte-identical files, and each workload generates only what it reads:

* ``tpch``    TPC-H-shaped tables (region, nation, customer, part, orders,
              lineitem, events) with the column names and value domains
              the relational plan members expect;
* ``elt``     consecutive 6-hour windows of raw LiveAgent payloads
              (agents, tags, tickets, messages) derived from generated
              orders and their lineitems, plus a ground-truth manifest;
* ``corpus``  documents and embeddings with injected exact duplicates,
              near-duplicates (seeded token edits) and perturbed vectors.

Each table draws from its own generator keyed on (seed, table), so adding
a table never shifts the values of another.
"""
from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- relational sample (analyst_queries) ----------------------------------
N_CUSTOMER = 3_000
N_PART = 2_000
N_ORDERS = 20_000
N_EVENTS = 30_000
N_EVENT_USERS = 600

# --- ELT windows (elt_windows) --------------------------------------------
# Window 0 is the backlog a first scheduled run extracts: untimed, it
# grows the tables. Plain runs time window 1; traced runs time window 1
# plain and window 2 traced.
N_WINDOWS = 3
# ~9.8k tickets and ~9.8k new message rows per 6-hour window is the only
# measured traffic on record (a probe of the convo route over six windows:
# the messages table grew 19.6k -> 58.9k rows), and it sits just under the
# reference's per-run cap of MAX_PAGES x PER_PAGE = 10k rows per endpoint.
BACKLOG_TICKETS = 9_800
TICKETS_PER_WINDOW = 9_800
# each ticket brings one new message with the window that extracts it, so
# message rows per window equal tickets per window, as in that probe
MESSAGES_PER_TICKET = 1
# no re-extraction rate of the reference is on record; "mostly new" tickets
# is all that is known, so this share is an assumption
CHANGED_SHARE = 0.2
N_AGENTS = 24
N_TAGS = 12
PER_PAGE = 100  # the reference's page size
MAX_PAGES = 100  # the reference's per-run page cap
WINDOW0 = dt.datetime(2024, 3, 1, 0, 0, 0)

# --- curation corpus (curation_batch) --------------------------------------
N_DOCS = 3_000
N_EXACT_DUPS = 150
N_NEAR_DUPS = 150
MAX_TOKEN_EDITS = 2
N_VECS = 2_000
N_VEC_LABELS = 10
VEC_DIM = 64
N_PERTURBED = 100
N_ANN_QUERIES = 40

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "valve", "spring", "nut", "pipe"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
N_WORDS = 4_000
N_TOPICS = 40
TOPIC_WORDS = 200
LANGS = ["en", "zh", "es", "fr", "de"]
TICKET_STATUSES = ["N", "T", "A", "C", "W", "R"]
CAR_WORDS = ["brakes", "aircon", "battery", "oil", "tires", "engine", "wipers"]


def _rng(seed: int, table: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy")


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + seconds.astype("timedelta64[s]")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


# ------------------------------------------------------------ tpch tables
def _orders_lineitem(seed: int, n_orders: int, n_part: int, n_customer: int):
    """Orders and their 1-7 lineitems as column dicts (numpy arrays)."""
    r = _rng(seed, "orders")
    days = r.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, n_customer, n_orders).astype(np.int64),
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(r.uniform(850.0, 450_000.0, n_orders), 2),
        "o_orderdate_days": days,
        "o_orderpriority": r.choice(np.array(PRIORITIES), n_orders),
    }
    r = _rng(seed, "lineitem")
    per_order = r.integers(1, 8, n_orders)
    n = int(per_order.sum())
    okey = np.repeat(orders["o_orderkey"], per_order)
    first = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = r.integers(1, 51, n).astype(np.float64)
    lineitem = {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": r.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - first + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": r.choice(np.array(["N", "R", "A"]), n),
        "l_linestatus": r.choice(np.array(["F", "O"]), n),
        "l_shipdate_days": np.repeat(days, per_order) + r.integers(1, 122, n),
    }
    return orders, lineitem


def gen_tpch(seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    day0 = dt.datetime(1995, 1, 1)
    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        f"{out}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        f"{out}/nation.parquet",
    )
    r = _rng(seed, "customer")
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER).astype(np.int32)),
            "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, N_CUSTOMER), 2)),
            "c_mktsegment": pa.array(r.choice(np.array(SEGMENTS), N_CUSTOMER)),
        }),
        f"{out}/customer.parquet",
    )
    r = _rng(seed, "part")
    adj = r.choice(np.array(PART_ADJ), N_PART)
    noun = r.choice(np.array(PART_NOUN), N_PART)
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, N_PART)],
            "p_type": pa.array(r.choice(np.array(PART_TYPES), N_PART)),
            "p_size": pa.array(r.integers(1, 51, N_PART).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(N_PART) * 0.1, 2)),
        }),
        f"{out}/part.parquet",
    )
    orders, li = _orders_lineitem(seed, N_ORDERS, N_PART, N_CUSTOMER)
    _write(
        pa.table({
            "o_orderkey": pa.array(orders["o_orderkey"]),
            "o_custkey": pa.array(orders["o_custkey"]),
            "o_orderstatus": pa.array(orders["o_orderstatus"]),
            "o_totalprice": pa.array(orders["o_totalprice"]),
            "o_orderdate": _ts(day0, orders["o_orderdate_days"] * 86400),
            "o_orderpriority": pa.array(orders["o_orderpriority"]),
        }),
        f"{out}/orders.parquet",
    )
    cols = {k: pa.array(v) for k, v in li.items() if k != "l_shipdate_days"}
    cols["l_shipdate"] = _ts(day0, li["l_shipdate_days"] * 86400)
    _write(pa.table(cols), f"{out}/lineitem.parquet")
    r = _rng(seed, "events")
    secs = np.sort(r.integers(0, 30 * 86400, N_EVENTS))
    micros = r.integers(0, 1_000_000, N_EVENTS)
    ts = (
        np.datetime64(dt.datetime(2024, 1, 1), "us")
        + secs.astype("timedelta64[s]")
        + micros.astype("timedelta64[us]")
    )
    _write(
        pa.table({
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, N_EVENT_USERS, N_EVENTS).astype(np.int64)),
            "event_type": pa.array(r.choice(np.array(EVENT_TYPES), N_EVENTS)),
            "value": pa.array(np.round(r.uniform(0.5, 200.0, N_EVENTS), 2)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, N_EVENTS)],
        }),
        f"{out}/events.parquet",
    )
    return {"orders": N_ORDERS, "lineitem": len(li["l_orderkey"])}


# -------------------------------------------------------------- elt windows
def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def gen_elt(seed: int, out: str, n_windows: int = N_WINDOWS) -> dict:
    """Raw LiveAgent payloads for ``n_windows`` consecutive 6-hour windows.

    Window 0 is the backlog of ``BACKLOG_TICKETS`` new tickets. Every
    later window carries ``TICKETS_PER_WINDOW`` tickets: new ones plus a
    ``CHANGED_SHARE`` of tickets first seen in an earlier window and
    re-extracted because new messages arrived. A ticket is one generated
    order; its messages are the order's lineitems, ``MESSAGES_PER_TICKET``
    with the window that creates the ticket and as many again with the
    window that changes it. No
    endpoint of any window exceeds the per-run cap of ``MAX_PAGES`` pages.

    Writes ``windows.json`` (endpoint → list of pages, the loopback
    server's payload) and returns the manifest the output checks use.
    """
    os.makedirs(out, exist_ok=True)
    n_changed_per = round(CHANGED_SHARE * TICKETS_PER_WINDOW)
    n_new = [BACKLOG_TICKETS] + [TICKETS_PER_WINDOW - n_changed_per] * (n_windows - 1)
    first_new = np.cumsum(n_new) - n_new
    n_orders = int(sum(n_new))
    orders, li = _orders_lineitem(seed + 1, n_orders, N_PART, N_CUSTOMER)
    per_order = np.bincount(li["l_orderkey"], minlength=n_orders)
    li_start = np.cumsum(per_order) - per_order
    r = _rng(seed, "elt")
    agents = [
        {
            "id": f"a{i:03d}",
            "name": f"Agent {i:03d}",
            "email": f"agent{i:03d}@example.ph",
            "last_pswd_change": _iso(WINDOW0 - dt.timedelta(days=int(d))),
        }
        for i, d in enumerate(r.integers(1, 400, N_AGENTS))
    ]
    tags = [
        {"id": f"g{i:02d}", "name": None if i % 5 == 0 else f"tag-{i}",
         "color": None if i % 3 == 0 else f"#{i:02d}{i:02d}ff"}
        for i in range(N_TAGS)
    ]
    ticket_agent = r.integers(0, N_AGENTS, n_orders)
    # the creating window delivers the order's first lineitem, a window
    # that re-extracts the ticket the next one
    pages: dict[str, list] = {}
    windows = []
    changed_pool: list[int] = []
    created: dict[int, dt.datetime] = {}
    for w in range(n_windows):
        start = WINDOW0 + dt.timedelta(hours=6 * w)
        new_ids = list(range(int(first_new[w]), int(first_new[w] + n_new[w])))
        n_changed = n_changed_per if w > 0 else 0
        changed: list[int] = []
        if n_changed:
            # re-extract only tickets that still have messages to deliver
            eligible = np.array(
                [o for o in changed_pool if per_order[o] > MESSAGES_PER_TICKET]
            )
            changed = sorted(
                int(o) for o in r.choice(eligible, n_changed, replace=False)
            )
            taken = set(changed)
            changed_pool = [o for o in changed_pool if o not in taken]
        changed_pool.extend(new_ids)
        tickets, messages = [], []
        for o in new_ids + changed:
            is_new = o >= first_new[w]
            off = int(r.integers(0, 6 * 3600 - 600))
            t = start + dt.timedelta(seconds=off)
            lo = li_start[o] + (0 if is_new else MESSAGES_PER_TICKET)
            hi = lo + MESSAGES_PER_TICKET
            if is_new:
                created[o] = t
            tickets.append(_ticket(o, orders, ticket_agent[o], created[o], t, r))
            for j in range(lo, hi):
                messages.append(
                    _message(o, j, li, orders, agents[ticket_agent[o]]["id"],
                             t + dt.timedelta(seconds=int(60 * (j - lo) + 30)))
                )
        for name, rows in (
            ("agents", agents), ("tags", tags),
            ("tickets", tickets), ("messages", messages),
        ):
            pages[f"w{w}/{name}"] = [
                rows[i:i + PER_PAGE] for i in range(0, len(rows), PER_PAGE)
            ]
            if len(pages[f"w{w}/{name}"]) > MAX_PAGES:
                raise ValueError(f"window {w} {name}: more than {MAX_PAGES} pages")
        windows.append({
            "start": _iso(start),
            "end": _iso(start + dt.timedelta(hours=6)),
            "new": [_tid(o) for o in new_ids],
            "changed": [_tid(o) for o in changed],
            "n_messages": len(messages),
        })
    with open(f"{out}/windows.json", "w") as f:
        # dumps, unlike dump, takes the C encoder: same bytes, 5x faster
        f.write(json.dumps(pages, separators=(",", ":"), sort_keys=True))
    return {"windows": windows, "agents": len(agents), "tags": len(tags)}


def _tid(o: int) -> str:
    return f"T{o:07d}"


def _ticket(o, orders, agent_ix, created, t, r) -> dict:
    status = "N" if created == t else TICKET_STATUSES[int(r.integers(1, 6))]
    return {
        "id": _tid(o),
        "owner_contactid": f"u{int(orders['o_custkey'][o])}",
        "owner_email": f"c{int(orders['o_custkey'][o])}@example.com",
        "owner_name": f"Customer#{int(orders['o_custkey'][o]):09d}",
        "departmentid": f"d{o % 4}",
        "agentid": f"a{int(agent_ix):03d}",
        "status": status,
        "tags": [f"g{int(x):02d}" for x in r.choice(N_TAGS, int(r.integers(0, 3)), replace=False)],
        "code": f"C{o:06d}",
        "channel_type": ["E", "C", "F"][o % 3],
        "date_created": _iso(created),
        "date_changed": _iso(t),
        "last_activity": _iso(t),
        "subject": f"Order {o} {orders['o_orderpriority'][o]}",
    }


def _message(o, j, li, orders, agent_id, t) -> dict:
    line = int(li["l_linenumber"][j])
    sender = (
        f"u{int(orders['o_custkey'][o])}" if line % 2 == 1
        else ("system00" if line % 6 == 0 else agent_id)
    )
    words = " ".join(
        CAR_WORDS[(o + line + k) % len(CAR_WORDS)] for k in range(1 + line % 4)
    )
    text = f"qty {int(li['l_quantity'][j])} {words}"
    if line == 1:
        text += f" Ref: MG{o % 997:03d}"
    return {
        "ticket_id": _tid(o),
        "owner_name": f"Customer#{int(orders['o_custkey'][o]):09d}",
        "agentid": agent_id,
        "id": f"G{o}",
        "userid": sender,
        "type": "M",
        "status": "R",
        "datecreated": _iso(t),
        "message_id": f"M{o}_{line}",
        "message_userid": sender,
        # every 5th line is an internal note and every 7th is HTML, so
        # the convo route's M/T filter has rows to drop
        "message_type": "I" if line % 5 == 0 else "M",
        "message_datecreated": _iso(t),
        "message_format": "H" if line % 7 == 0 else "T",
        "message": text,
    }


# ------------------------------------------------------------ curation
def _vocab(r: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = r.integers(3, 10, N_WORDS)
    words = {"".join(r.choice(letters, n)) for n in lens}
    return np.array(sorted(words))


def _doc_text(r: np.random.Generator, vocab, topics, n_words: int) -> list[str]:
    """Half the words from the document's topic, half Zipf-distributed
    over the whole vocabulary, as in natural text."""
    topic = topics[int(r.integers(0, len(topics)))]
    from_topic = r.random(n_words) < 0.5
    general = np.minimum(r.zipf(1.3, n_words) - 1, len(vocab) - 1)
    picks = np.where(from_topic, topic[r.integers(0, len(topic), n_words)], general)
    return [str(w) for w in vocab[picks]]


def gen_corpus(seed: int, out: str) -> dict:
    """Documents (base + exact + near duplicates) and embeddings (base +
    perturbed copies) with the injected pairs recorded in the manifest."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "documents")
    vocab = _vocab(r)
    topics = [r.choice(len(vocab), TOPIC_WORDS, replace=False) for _ in range(N_TOPICS)]
    texts = [_doc_text(r, vocab, topics, int(n)) for n in r.integers(24, 100, N_DOCS)]
    exact_src = r.choice(N_DOCS, N_EXACT_DUPS, replace=False)
    near_src = r.choice(N_DOCS, N_NEAR_DUPS, replace=False)
    exact_pairs, near_pairs = [], []
    doc_ids = list(range(N_DOCS))
    for s in exact_src:
        exact_pairs.append([int(s), len(texts)])
        texts.append(list(texts[s]))
    for s in near_src:
        toks = list(texts[s])
        n_edits = int(r.integers(1, MAX_TOKEN_EDITS + 1))
        for pos in r.choice(len(toks), n_edits, replace=False):
            word = toks[pos]
            while word == toks[pos]:
                word = str(vocab[int(r.integers(0, len(vocab)))])
            toks[pos] = word
        near_pairs.append([int(s), len(texts), n_edits])
        texts.append(toks)
    doc_ids = np.arange(len(texts), dtype=np.int64)
    joined = [" ".join(t) for t in texts]
    _write(
        pa.table({
            "doc_id": pa.array(doc_ids),
            "text": joined,
            "lang": pa.array(r.choice(np.array(LANGS), len(texts))),
            "source": [f"src{i % 20}" for i in range(len(texts))],
            "n_chars": pa.array(np.array([len(t) for t in joined], np.int64)),
        }),
        f"{out}/documents.parquet",
    )
    r = _rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (N_VEC_LABELS, VEC_DIM))
    labels = r.integers(0, N_VEC_LABELS, N_VECS)
    vecs = centers[labels] + r.normal(0.0, 0.9, (N_VECS, VEC_DIM))
    src = r.choice(N_VECS, N_PERTURBED, replace=False)
    vecs = np.vstack([vecs, vecs[src] + r.normal(0.0, 0.05, (N_PERTURBED, VEC_DIM))])
    labels = np.concatenate([labels, labels[src]])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }),
        f"{out}/embeddings.parquet",
    )
    queries = sorted(int(q) for q in r.choice(len(vecs), N_ANN_QUERIES, replace=False))
    return {
        "n_docs": len(texts),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "perturbed_pairs": [[int(s), N_VECS + i] for i, s in enumerate(src)],
        "ann_queries": queries,
    }


GENERATORS = {"tpch": gen_tpch, "elt": gen_elt, "corpus": gen_corpus}


def generate(seed: int, out: str, parts: tuple[str, ...]) -> dict:
    """Generate the named input sets under ``out``; returns their
    manifests keyed by part, also written to ``out/manifest.json``."""
    manifest = {"seed": seed}
    for p in parts:
        manifest[p] = GENERATORS[p](seed, os.path.join(out, p))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest
