"""Tests of the seeded input generator.

    python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402

PARTS = ("tpch", "elt", "corpus")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.fixture(scope="module")
def seed7(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("seed7"))
    return out, gen.generate(7, out, PARTS)


def test_same_seed_gives_byte_identical_inputs(seed7, tmp_path):
    out, _ = seed7
    gen.generate(7, str(tmp_path), PARTS)
    a, b = _files(out), _files(str(tmp_path))
    assert sorted(a) == sorted(b)
    assert all(a[k] == b[k] for k in a)


def test_different_seed_gives_different_inputs(seed7, tmp_path):
    out, _ = seed7
    gen.generate(8, str(tmp_path), PARTS)
    a, b = _files(out), _files(str(tmp_path))
    # constant dimensions (region, nation) are equal; every generated table differs
    differ = {k for k in a if a[k] != b[k]}
    assert differ >= {
        "tpch/customer.parquet", "tpch/part.parquet", "tpch/orders.parquet",
        "tpch/lineitem.parquet", "tpch/events.parquet", "elt/windows.json",
        "corpus/documents.parquet", "corpus/embeddings.parquet", "manifest.json",
    }


def test_injected_duplicates_are_what_the_manifest_says(seed7):
    out, m = seed7
    c = m["corpus"]
    docs = pq.read_table(os.path.join(out, "corpus", "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert c["n_docs"] == len(text) == gen.N_DOCS + gen.N_EXACT_DUPS + gen.N_NEAR_DUPS
    assert len(c["exact_pairs"]) == gen.N_EXACT_DUPS
    assert all(text[a] == text[b] for a, b in c["exact_pairs"])
    assert len(c["near_pairs"]) == gen.N_NEAR_DUPS
    for a, b, k in c["near_pairs"]:
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb)
        assert 1 <= k <= gen.MAX_TOKEN_EDITS
        assert sum(x != y for x, y in zip(ta, tb)) == k
    emb = pq.read_table(os.path.join(out, "corpus", "embeddings.parquet")).to_pydict()
    vec = dict(zip(emb["vec_id"], (np.array(v) for v in emb["embedding"])))
    assert len(c["perturbed_pairs"]) == gen.N_PERTURBED
    for a, b in c["perturbed_pairs"]:
        assert float(vec[a] @ vec[b]) > 0.95  # unit vectors: cosine
    assert len(set(c["ann_queries"])) == gen.N_ANN_QUERIES


def test_changed_ticket_share_and_page_cap(seed7):
    out, m = seed7
    with open(os.path.join(out, "elt", "windows.json")) as f:
        pages = json.load(f)
    seen: set[str] = set()
    n_changed = round(gen.CHANGED_SHARE * gen.TICKETS_PER_WINDOW)
    for w, win in enumerate(m["elt"]["windows"]):
        if w == 0:
            assert len(win["new"]) == gen.BACKLOG_TICKETS and win["changed"] == []
        else:
            assert len(win["new"]) + len(win["changed"]) == gen.TICKETS_PER_WINDOW
            assert len(win["changed"]) == n_changed
        assert set(win["changed"]) <= seen  # re-extracted: seen before
        assert not set(win["new"]) & seen  # new: never seen before
        seen |= set(win["new"])
        served = [r["id"] for p in pages[f"w{w}/tickets"] for r in p]
        assert sorted(served) == sorted(win["new"] + win["changed"])
        msgs = [r for p in pages[f"w{w}/messages"] for r in p]
        assert len(msgs) == win["n_messages"]
        # one new message per extracted ticket, new or re-extracted
        assert len(msgs) == gen.MESSAGES_PER_TICKET * len(served)
        # a re-extracted ticket brings new messages, never old ones again
        assert len({r["message_id"] for r in msgs}) == len(msgs)
        assert {r["ticket_id"] for r in msgs} >= set(win["changed"])
    for ep, ps in pages.items():
        assert len(ps) <= gen.MAX_PAGES, ep
        assert all(len(p) <= gen.PER_PAGE for p in ps), ep
    all_ids = [r["message_id"] for k, ps in pages.items() if k.endswith("/messages")
               for p in ps for r in p]
    assert len(set(all_ids)) == len(all_ids)
