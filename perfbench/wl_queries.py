"""``analyst_queries``: one analyst in a closed loop over read-only
relational plan members.

Each round runs the members below in a seed-shuffled order; the next
query is sent only when the previous result has arrived (``toArrow``,
the client's columnar fetch). Only Catalyst, scans and shuffles run: no
Python workers and no table writes, so this workload is the control that
must not move when ``sinks`` or ``enrich`` change.
"""
from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import time

import duckdb

from mgo_liveagent_data_pipeline_spark.plans.registry import ALL_ORACLES, ALL_QUERIES

from .common import Budget, Ctx, median, tail, tree_cpu_s

INPUTS = ("tpch",)
QUERIES = (
    "a1_pricing_summary",
    "j1_broadcast_enrich",
    "j3_correlated_attach",
    "j5_similarity_argmax",
    "w2_topk_per_group",
    "a5_ordered_group_concat",
    "f8_tumbling_6h",
)
TABLES = ("region", "nation", "customer", "part", "orders", "lineitem", "events")


def _canon(v):
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return repr(v)


def result_hash(tbl) -> tuple[int, str]:
    """Order-insensitive digest of an Arrow table: columns by name, rows
    sorted, floats to nine significant digits."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted("\x1f".join(_canon(v) for v in r) for r in zip(*data))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


class Workload:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf = os.path.join(ctx.data_dir, "tpch")
        self.rng = random.Random(ctx.seed)
        self.first: dict = {}

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        pass

    def _run(self, name: str):
        return self.ctx.attempt(
            name, lambda: ALL_QUERIES[name](self.ctx.spark, self.sf).toArrow()
        )

    def warmup(self, traced: bool) -> None:
        """Two untimed rounds: the first compiles every plan and its results
        are the ones the check compares; after one round the JIT is still
        catching up and each timed round is faster than the one before."""
        for q in QUERIES:
            self.first[q] = self._run(q)
        for q in QUERIES:
            self._run(q)

    def measure(self, seconds: float, traced: bool) -> list[dict]:
        """Whole rounds within the time, so every member has the same
        weight in the medians; at least three, so that a median over
        rounds drops one slow round. With ``traced`` the rounds alternate
        plain and traced, plain first, at least one of each."""
        tr = self.ctx.tracer
        recs = []
        budget = Budget(seconds, least=2 if traced else 3)
        while budget.more():
            traced_round = traced and budget.n % 2 == 1
            t_round = time.perf_counter()
            order = list(QUERIES)
            self.rng.shuffle(order)
            for q in order:
                tr.begin(len(recs), traced_round)
                with tr.span(f"plans.{q}", "plans"):
                    cpu0, t0 = tree_cpu_s(), time.perf_counter()
                    ok = self._run(q) is not None
                    dur = time.perf_counter() - t0
                recs.append({"query": q, "s": dur, "cpu_s": tree_cpu_s() - cpu0,
                             "ok": ok, "traced": traced_round, "round": budget.n})
            budget.done(time.perf_counter() - t_round)
        return recs

    def check(self, recs: list[dict]) -> None:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
                )
            for q in QUERIES:
                got = self.first.get(q)
                if got is None:
                    self.ctx.check(f"oracle {q}", False, "no result")
                    continue
                want = result_hash(con.execute(ALL_ORACLES[q]).fetch_arrow_table())
                have = result_hash(got)
                self.ctx.check(f"oracle {q}", have == want,
                               f"spark {have[0]} rows vs duckdb {want[0]} rows, hash differs")
        finally:
            con.close()


def unit_seconds(recs: list[dict]) -> list[float]:
    return [r["s"] for r in recs]


def summarize_e2e(recs: list[dict]) -> dict:
    """``op_s_p50`` is the median over rounds of a round's mean query
    latency, and ``work_per_s`` the median over rounds of a round's
    queries over its query time: a median, so one slow round does not
    move them. The median over all queries is ``query_s_p50``; it falls
    between the members' latencies, and which member it lands on changes
    from run to run, so it is reported, not gated."""
    lat = unit_seconds(recs)
    t, label = tail(lat)
    per_q = {q: median([r["s"] for r in recs if r["query"] == q]) for q in QUERIES}
    rounds: dict[int, list[float]] = {}
    for r in recs:
        rounds.setdefault(r["round"], []).append(r["s"])
    round_mean = [sum(v) / len(v) for v in rounds.values()]
    return {
        "op_s_p50": median(round_mean),
        "op_s_tail": t,
        "work_per_s": median([1.0 / m for m in round_mean]),
        # background JIT and GC threads land on whichever query is running,
        # so per-query CPU is averaged, not taken as a median
        "op_cpu_s": sum(r["cpu_s"] for r in recs) / len(recs),
        "detail": {
            "query_s_p50": median(lat),
            "query_s_tail": t,
            "query_s_tail_is": label,
            "queries_per_s": len(lat) / sum(lat),
            "queries": len(lat),
            "round_mean_query_s": [round(x, 4) for x in round_mean],
            "query_s_p50_by_member": {q: round(v, 4) for q, v in per_q.items()},
        },
    }


def summarize_layers(recs: list[dict], tracer) -> dict:
    return {
        f"plans.{q}_s": median([s.dur for s in tracer.spans if s.name == f"plans.{q}"])
        for q in QUERIES
    }
