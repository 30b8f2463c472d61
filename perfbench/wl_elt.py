"""``elt_windows``: the scheduled 6-hour ELT run users wait on.

Each run starts from empty tables and drives consecutive windows through
``api.Engine.dispatch`` in the reference's scheduler order (agents → tags
→ tickets-and-messages → convo → logs), extracting every payload with
``spark.read.format("liveagent")`` from the loopback API. After each
window a dashboard makes three reads of the written tables. The backlog
(window 0) runs untimed, so the timed window meets tables that already
hold a full window's tickets and messages, and any per-window cost that
scales with table size is part of its time.

The traced variant calls the public functions the route bodies call, in
the same order, with one span per layer call and each layer's lazy
output forced under its span.
"""
from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.api import Engine
from mgo_liveagent_data_pipeline_spark.enrich.convo import analyze_conversations
from mgo_liveagent_data_pipeline_spark.functions.datetimes import fuse_schedule
from mgo_liveagent_data_pipeline_spark.operators.aggregations import token_totals_by_model
from mgo_liveagent_data_pipeline_spark.operators.setops import new_vs_existing_counts
from mgo_liveagent_data_pipeline_spark.pipelines import read_table
from mgo_liveagent_data_pipeline_spark.sinks.writers import (
    append,
    ensure_table,
    history_append,
    overwrite,
    upsert,
)
from mgo_liveagent_data_pipeline_spark.sources.rest import LiveAgentDataSource
from mgo_liveagent_data_pipeline_spark.transforms.messages import process_messages
from mgo_liveagent_data_pipeline_spark.transforms.tickets import (
    process_agents,
    process_tags,
    process_tickets,
)

from . import gen
from .common import Budget, Ctx, median, tail, tree_cpu_s
from .loopback import LoopbackApi

RAW_DDL = {
    "agents": "id STRING, name STRING, email STRING, last_pswd_change STRING",
    "tags": "id STRING, name STRING, color STRING",
    "tickets": (
        "id STRING, owner_contactid STRING, owner_email STRING, owner_name STRING, "
        "departmentid STRING, agentid STRING, status STRING, tags ARRAY<STRING>, "
        "code STRING, channel_type STRING, date_created STRING, "
        "date_changed STRING, last_activity STRING, subject STRING"
    ),
    "messages": (
        "ticket_id STRING, owner_name STRING, agentid STRING, id STRING, "
        "userid STRING, type STRING, status STRING, datecreated STRING, "
        "message_id STRING, message_userid STRING, message_type STRING, "
        "message_datecreated STRING, message_format STRING, message STRING"
    ),
}
TABLES = ("agents", "tags", "tickets", "messages", "convo_analysis",
          "convo_analysis_history", "logs")
ROUTES = (
    "extract/process-agents",
    "extract/process-tags",
    "extract/process-tickets-and-messages",
    "extract/process-convo",
    "process-logs",
)
INPUTS = ("elt",)
WARMUP_WINDOWS = 1
PROMPT_PREFIX_LEN = len("Analyze conversation JSON: ")
MANILA = dt.timedelta(hours=8)


def _route_metric(route: str) -> str:
    return "api." + route.rsplit("/", 1)[-1].replace("-", "_") + "_s"


class FileLedger:
    """Bytes and files written into the table directories, counted by
    inode (with size and mtime, since a freed inode can be reused)."""

    def __init__(self, base: str):
        self.base = base
        self.seen: set = set()
        self.bytes_written = 0
        self.files_written = 0

    def _files(self):
        for t in TABLES:
            root = os.path.join(self.base, f"{t}.parquet")
            for d, _dirs, files in os.walk(root):
                for f in files:
                    try:
                        yield os.stat(os.path.join(d, f))
                    except FileNotFoundError:
                        continue

    def scan(self) -> None:
        for st in self._files():
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
            if key not in self.seen:
                self.seen.add(key)
                self.bytes_written += st.st_size
                self.files_written += 1

    def live_bytes(self) -> int:
        return sum(st.st_size for st in self._files())


class Workload:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.windows = ctx.manifest["elt"]["windows"]
        self.pages_path = os.path.join(ctx.data_dir, "elt", "windows.json")
        with open(self.pages_path) as f:
            pages = json.load(f)
        self.raw = {
            name: [
                [dict(r, w=w) for p in pages[f"w{w}/{name}"] for r in p]
                for w in range(len(self.windows))
            ]
            for name in ("tickets", "messages")
        }
        self.mt_tickets = [
            len({m["ticket_id"] for m in ms
                 if m["message_type"] == "M" and m["message_format"] == "T"})
            for ms in self.raw["messages"]
        ]
        self.api: LoopbackApi | None = None
        self.base = os.path.join(ctx.work_dir, "tables")
        self.next_w = 0

    # ------------------------------------------------------------ inputs
    def _read(self, w: int, name: str):
        return (
            self.ctx.spark.read.format("liveagent")
            .option("schema_ddl", RAW_DDL[name])
            .option("endpoint", f"w{w}/{name}")
            .option("base_url", self.api.base_url)
            .option("max_pages", str(gen.MAX_PAGES))
            .option("per_page", str(gen.PER_PAGE))
            .option("throttle", "false")
            .load()
        )

    def _keys(self, w: int):
        spark = self.ctx.spark
        win = self.windows[w]
        prior = [t for x in self.windows[:w] for t in x["new"]]
        run = spark.createDataFrame(
            pd.DataFrame({"ticket_id": win["new"] + win["changed"]}), "ticket_id string"
        )
        existing = spark.createDataFrame(
            pd.DataFrame({"ticket_id": pd.Series(prior, dtype=object)}), "ticket_id string"
        )
        return run, existing

    def _now(self, w: int):
        end = dt.datetime.fromisoformat(self.windows[w]["end"])
        return F.lit(end.replace(tzinfo=dt.timezone.utc)).cast("timestamp")

    # ----------------------------------------------------------- windows
    def _window_untraced(self, engine: Engine, w: int, keys) -> None:
        ctx = self.ctx
        kwargs = {
            "extract/process-agents": lambda: {"raw_agents": self._read(w, "agents")},
            "extract/process-tags": lambda: {"raw_tags": self._read(w, "tags")},
            "extract/process-tickets-and-messages": lambda: {
                "raw_tickets": self._read(w, "tickets"),
                "raw_messages": self._read(w, "messages"),
                "now": self._now(w),
            },
            "extract/process-convo": lambda: {},
            "process-logs": lambda: {"run_keys": keys[0], "existing_keys": keys[1]},
        }
        for route in ROUTES:
            ctx.attempt(route, lambda r=route: engine.dispatch(r, **kwargs[r]()))

    def _window_traced(self, engine: Engine, w: int, keys) -> None:
        ctx, tr, spark, base = self.ctx, self.ctx.tracer, self.ctx.spark, engine.base_dir

        def agents():
            with tr.span("sources.rest", "sources.rest"):
                raw = tr.force(self._read(w, "agents"))
            with tr.span("transforms.agents", "transforms"):
                df = tr.force(process_agents(raw))
            with tr.span("sinks.overwrite", "sinks"):
                overwrite(df, base, "agents")

        def tags():
            with tr.span("sources.rest", "sources.rest"):
                raw = tr.force(self._read(w, "tags"))
            with tr.span("transforms.tags", "transforms"):
                df = tr.force(process_tags(raw))
            with tr.span("sinks.overwrite", "sinks"):
                overwrite(df, base, "tags")

        def tickets_and_messages():
            now = self._now(w)
            with tr.span("sources.rest", "sources.rest"):
                raw_t = tr.force(self._read(w, "tickets"))
                raw_m = tr.force(self._read(w, "messages"))
            with tr.span("transforms.tickets", "transforms") as s:
                t = tr.force(process_tickets(raw_t, now))
                s.counts["rows_out"] = n_tickets = t.count()
            before = _parquet_files(base, "tickets")
            with tr.span("sinks.upsert", "sinks") as s:
                upsert(spark, t, base, "tickets", "id")
            s.counts.update(source_rows=n_tickets,
                            rows_written=_rows_in_new_files(base, "tickets", before))
            agents_dim = read_table(spark, base, "agents")
            with tr.span("transforms.messages", "transforms") as s:
                m = tr.force(process_messages(raw_m, agents_dim, now=now))
                s.counts["rows_out"] = m.count()
            with tr.span("sinks.append", "sinks"):
                append(m, base, "messages")

        def convo():
            messages = read_table(spark, base, "messages")
            convo_msgs = messages.where(
                (F.col("message_type") == "M") & (F.col("message_format") == "T")
            )
            with tr.span("enrich.convo", "enrich") as s:
                analyzed = tr.force(
                    analyze_conversations(
                        convo_msgs,
                        engine.gateway,
                        key_col="ticket_id",
                        order_cols=("message_datecreated", "message_id"),
                        text_col="message",
                        id_col="message_id",
                        ts_col="message_datecreated",
                    ).withColumn(
                        "schedule_ts",
                        fuse_schedule(F.col("schedule_date"), F.col("schedule_time")),
                    )
                )
                agg = analyzed.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("summary") == "ANALYSIS_FAILED", 1).otherwise(0)).alias("bad"),
                    F.sum("tokens").alias("tokens"),
                ).collect()[0]
                s.counts.update(groups=agg["n"], failed=agg["bad"] or 0,
                                tokens=agg["tokens"] or 0, useful=self.mt_tickets[w])
            with tr.span("sinks.history_append", "sinks"):
                history_append(spark, analyzed, base, "convo_analysis")
            before = _parquet_files(base, "convo_analysis")
            with tr.span("sinks.upsert", "sinks") as s:
                upsert(spark, analyzed, base, "convo_analysis", "ticket_id")
            s.counts.update(source_rows=agg["n"],
                            rows_written=_rows_in_new_files(base, "convo_analysis", before))

        def logs():
            analyzed = read_table(spark, base, "convo_analysis")
            with tr.span("operators.setops.new_vs_existing", "operators.setops"):
                counts = tr.force(new_vs_existing_counts(keys[0], keys[1], "ticket_id"))
            tokens = analyzed.agg(
                F.sum("tokens").alias("total_tokens"), F.max("model").alias("model")
            )
            row = tr.force(counts.crossJoin(tokens).select(
                F.date_trunc("second", F.current_timestamp()).alias("extraction_date"),
                F.col("n_new").alias("no_new"),
                F.col("n_existing").alias("no_existing"),
                F.col("n_total").alias("no_total"),
                "total_tokens",
                "model",
            ))
            with tr.span("sinks.append", "sinks"):
                append(row, base, "logs")

        bodies = dict(zip(ROUTES, (agents, tags, tickets_and_messages, convo, logs)))
        for route in ROUTES:
            with tr.span(_route_metric(route)[:-2], "api"):
                ctx.attempt(route, bodies[route])
                tr.release()

    def _reads(self, engine: Engine, w: int) -> list[float]:
        """The dashboard: a table page, ticket counts by status and the
        window's token totals by model."""
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        start = dt.datetime.fromisoformat(self.windows[w]["start"]) + MANILA
        end = dt.datetime.fromisoformat(self.windows[w]["end"]) + MANILA
        reads = (
            ("fetch", lambda: engine.dispatch("fetch", table="tickets", limit=20).collect()),
            ("status_counts", lambda: read_table(spark, engine.base_dir, "tickets")
             .groupBy("status").count().collect()),
            ("token_totals", lambda: token_totals_by_model(
                read_table(spark, engine.base_dir, "convo_analysis"),
                str(start), str(end)).collect()),
        )
        out = []
        with tr.span("api.dashboard_reads", "api"):
            for name, fn in reads:
                layer = "operators.aggregations" if name == "token_totals" else "api"
                with tr.span(f"{layer}.{name}", layer):
                    t0 = time.perf_counter()
                    if ctx.attempt(f"read {name}", fn) is not None:
                        out.append(time.perf_counter() - t0)
        return out

    # ------------------------------------------------------------ windows
    def __enter__(self):
        self.ctx.spark.dataSource.register(LiveAgentDataSource)
        self.api = LoopbackApi(self.pages_path).__enter__()
        return self

    def __exit__(self, *exc):
        self.api.__exit__(*exc)
        shutil.rmtree(self.base, ignore_errors=True)

    def _window(self, w: int, traced: bool) -> dict:
        keys = self._keys(w)
        self.ctx.tracer.begin(w, traced)
        requests0, rows0 = self.api.requests, self.api.rows_served
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        if traced:
            self._window_traced(self.engine, w, keys)
        else:
            self._window_untraced(self.engine, w, keys)
        rec = {"w": w, "s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - cpu0,
               "traced": traced,
               "rows": len(self.raw["tickets"][w]) + len(self.raw["messages"][w]),
               "pages": self.api.requests - requests0,
               "rows_served": self.api.rows_served - rows0}
        rec["route_s"] = {
            run.route: round(run.wall_sec, 3) for run in self.engine.tracker.runs[-len(ROUTES):]
        } if not traced else {}
        rec["read_s"] = self._reads(self.engine, w) if w > 0 else []
        self.ledger.scan()
        self.next_w = w + 1
        return rec

    def _create_tables(self) -> None:
        """Create the upserted tables empty (K1 ``ensure_table``), as a
        deployment does before its first run, so window 0 already takes
        the merge path every later window takes."""
        spark = self.ctx.spark
        raw_t = spark.createDataFrame([], RAW_DDL["tickets"])
        raw_m = spark.createDataFrame([], RAW_DDL["messages"])
        agents = process_agents(spark.createDataFrame([], RAW_DDL["agents"]))
        messages = process_messages(raw_m, agents, now=self._now(0))
        convo = analyze_conversations(
            messages, self.engine.gateway, key_col="ticket_id",
            order_cols=("message_datecreated", "message_id"), text_col="message",
            id_col="message_id", ts_col="message_datecreated",
        ).withColumn("schedule_ts", fuse_schedule(F.col("schedule_date"), F.col("schedule_time")))
        ensure_table(spark, self.base, "tickets", process_tickets(raw_t, self._now(0)))
        ensure_table(spark, self.base, "convo_analysis", convo)

    def warmup(self, traced: bool) -> None:
        """Window 0, the backlog: untimed. It warms the session and grows
        the tables the timed window meets."""
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        self.engine = Engine(self.ctx.spark, self.base)
        self.ledger = FileLedger(self.base)
        self._create_tables()
        for w in range(WARMUP_WINDOWS):
            self._window(w, traced=False)

    def measure(self, seconds: float, traced: bool) -> list[dict]:
        """The following windows while time remains, at least one; with
        ``traced`` they alternate plain and traced, plain first, at least
        one of each."""
        recs: list[dict] = []
        budget = Budget(seconds, least=2 if traced else 1)
        while self.next_w < len(self.windows) and budget.more():
            recs.append(self._window(self.next_w, traced and len(recs) % 2 == 1))
            budget.done(recs[-1]["s"])
        live = self.ledger.live_bytes()
        for r in recs:
            r["write_amp"] = self.ledger.bytes_written / max(1, live)
            r["bytes_per_window"] = self.ledger.bytes_written / self.next_w
            r["files_per_window"] = self.ledger.files_written / self.next_w
            r["live_bytes"] = live
        return recs

    # ------------------------------------------------------------- checks
    def check(self, recs: list[dict]) -> None:
        """Recompute the final table states in DuckDB from the generated
        raw inputs of the windows run and compare with what the pipeline
        wrote."""
        ctx, base, n = self.ctx, self.base, self.next_w
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.register("raw_tickets", pd.DataFrame(
            [{"w": r["w"], "id": r["id"], "status": r["status"],
              "date_changed": r["date_changed"]}
             for rows in self.raw["tickets"][:n] for r in rows]))
        con.register("raw_messages", pd.DataFrame(
            [{"w": r["w"], "ticket_id": r["ticket_id"], "message_id": r["message_id"],
              "message": r["message"], "message_type": r["message_type"],
              "message_format": r["message_format"], "ts": r["message_datecreated"]}
             for rows in self.raw["messages"][:n] for r in rows]))
        wins = pd.DataFrame([
            {"w": i, "n_new": len(x["new"]), "n_changed": len(x["changed"])}
            for i, x in enumerate(self.windows[:n])
        ])
        con.register("wins", wins)
        last = n - 1

        def tbl(name):
            return f"read_parquet('{base}/{name}.parquet/*.parquet')"

        con.execute(f"""
            CREATE TEMP VIEW convo_w AS
            SELECT wi.w, m.ticket_id,
                   string_agg(m.message || '#' || m.message_id, ' | '
                              ORDER BY strptime(m.ts, '%Y-%m-%d %H:%M:%S'), m.message_id) AS convo
            FROM wins wi JOIN raw_messages m ON m.w <= wi.w
            WHERE m.message_type = 'M' AND m.message_format = 'T'
            GROUP BY wi.w, m.ticket_id""")
        con.execute(f"""
            CREATE TEMP VIEW tokens_w AS
            SELECT w, ticket_id, ({PROMPT_PREFIX_LEN} + length(convo)) // 4 AS tokens
            FROM convo_w""")

        def diff(expected: str, actual: str) -> int:
            q = f"""SELECT (SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual})))
                         + (SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected})))"""
            return con.execute(q).fetchone()[0]

        def one(q):
            return con.execute(q).fetchone()[0]

        try:
            d = diff(
                """SELECT id, status,
                          strptime(date_changed, '%Y-%m-%d %H:%M:%S') + INTERVAL 8 HOUR AS dc
                   FROM raw_tickets QUALIFY row_number() OVER (PARTITION BY id ORDER BY w DESC) = 1""",
                f"SELECT id, status, CAST(date_changed AS TIMESTAMP) AS dc FROM {tbl('tickets')}",
            )
            ctx.check("elt: tickets final state", d == 0, f"{d} rows differ")
            dup = one(f"SELECT count(*) - count(DISTINCT id) FROM {tbl('tickets')}")
            ctx.check("elt: tickets key unique", dup == 0, f"{dup} duplicate ids")
            n_msg = sum(x["n_messages"] for x in self.windows[:n])
            got = one(f"SELECT count(*) FROM {tbl('messages')}")
            ctx.check("elt: messages rows", got == n_msg, f"{got} != {n_msg}")
            d = diff(
                f"SELECT ticket_id, tokens, 'stub-v1' AS model FROM tokens_w WHERE w = {last}",
                f"SELECT ticket_id, tokens, model FROM {tbl('convo_analysis')}",
            )
            ctx.check("elt: convo_analysis final state", d == 0, f"{d} rows differ")
            dup = one(f"SELECT count(*) - count(DISTINCT ticket_id) FROM {tbl('convo_analysis')}")
            ctx.check("elt: convo_analysis key unique", dup == 0, f"{dup} duplicate keys")
            want = one("SELECT count(*) FROM convo_w")
            got = one(f"SELECT count(*) FROM {tbl('convo_analysis_history')}")
            ctx.check("elt: history rows = sum of analysed batches", got == want,
                      f"{got} != {want}")
            d = diff(
                """SELECT wi.n_new AS no_new, wi.n_changed AS no_existing,
                          wi.n_new + wi.n_changed AS no_total,
                          CAST(t.total AS BIGINT) AS total_tokens, 'stub-v1' AS model
                   FROM wins wi JOIN (SELECT w, sum(tokens) AS total FROM tokens_w GROUP BY w) t
                   USING (w)""",
                f"""SELECT no_new, no_existing, no_total, CAST(total_tokens AS BIGINT), model
                    FROM {tbl('logs')} WHERE extraction_date IS NOT NULL""",
            )
            ctx.check("elt: logs rows", d == 0, f"{d} rows differ")
        except duckdb.Error as e:
            ctx.check("elt: checks ran", False, f"{type(e).__name__}: {e}")
        finally:
            con.close()


def _parquet_files(base: str, name: str) -> dict:
    """The table's parquet files, keyed as ``FileLedger`` keys them."""
    root = os.path.join(base, f"{name}.parquet")
    out = {}
    for f in os.listdir(root):
        if f.endswith(".parquet"):
            st = os.stat(os.path.join(root, f))
            out[(st.st_ino, st.st_mtime_ns, st.st_size)] = os.path.join(root, f)
    return out


def _rows_in_new_files(base: str, name: str, before: dict) -> int:
    """Rows in the table's parquet files that are not in ``before``: the
    rows a write in between actually wrote, whatever the table holds."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(path).metadata.num_rows
               for key, path in _parquet_files(base, name).items() if key not in before)


def unit_seconds(recs: list[dict]) -> list[float]:
    return [r["s"] for r in recs]


def summarize_e2e(recs: list[dict]) -> dict:
    win = unit_seconds(recs)
    reads = [x for r in recs for x in r["read_s"]]
    rows = sum(r["rows"] for r in recs)
    t, label = tail(win)
    return {
        "op_s_p50": median(win),
        "op_s_tail": t,
        "work_per_s": rows / sum(win),
        "op_cpu_s": median([r["cpu_s"] for r in recs]),
        "detail": {
            "window_s_p50": median(win),
            "window_s_tail": t,
            "window_s_tail_is": label,
            "ingest_rows_per_s": rows / sum(win),
            "read_s_p50": median(reads),
            "write_amp": recs[-1]["write_amp"],
            "window_s": [round(x, 4) for x in win],
            "route_s": [r["route_s"] for r in recs],
        },
    }


def summarize_layers(recs: list[dict], tracer) -> dict:
    """Per-window medians of the layer spans over the traced windows."""
    units = [r["w"] for r in recs]
    per_w: dict[tuple, float] = {}
    counts: dict[str, float] = {}
    for s in tracer.spans:
        per_w[(s.name, s.unit)] = per_w.get((s.name, s.unit), 0.0) + s.dur
        for k, v in s.counts.items():
            key = f"{s.name}.{k}"
            counts[key] = counts.get(key, 0) + v
            per_w[(key, s.unit)] = per_w.get((key, s.unit), 0) + v

    def med(name):
        return median([per_w.get((name, u), 0.0) for u in units])

    routes = sum(s.dur for s in tracer.spans if s.layer == "api" and s.parent is None
                 and s.name != "api.dashboard_reads")
    groups = counts.get("enrich.convo.groups", 0)
    out = {
        "sources.rest.extract_s": med("sources.rest"),
        "sources.rest.pages": median([r["pages"] for r in recs]),
        "sources.rest.rows": median([r["rows_served"] for r in recs]),
        "transforms.tickets_s": med("transforms.tickets"),
        "transforms.messages_s": med("transforms.messages"),
        "transforms.rows_out": median([
            per_w.get(("transforms.tickets.rows_out", u), 0)
            + per_w.get(("transforms.messages.rows_out", u), 0) for u in units]),
        "enrich.convo_s": med("enrich.convo"),
        "enrich.convo_groups": med("enrich.convo.groups"),
        "enrich.convo_useful_ratio": counts.get("enrich.convo.useful", 0) / max(1, groups),
        "enrich.gateway_failed_frac": counts.get("enrich.convo.failed", 0) / max(1, groups),
        "enrich.tokens": med("enrich.convo.tokens"),
        "sinks.upsert_s": med("sinks.upsert"),
        "sinks.append_s": med("sinks.append"),
        "sinks.history_append_s": med("sinks.history_append"),
        "sinks.overwrite_s": med("sinks.overwrite"),
        "sinks.bytes_written": recs[-1]["bytes_per_window"],
        "sinks.files_written": recs[-1]["files_per_window"],
        "sinks.live_bytes": recs[-1]["live_bytes"],
        "sinks.upsert_rewrite_ratio": counts.get("sinks.upsert.rows_written", 0)
        / max(1, counts.get("sinks.upsert.source_rows", 0)),
        "sinks.write_amp": recs[-1]["write_amp"],
        "api.dashboard_reads_s": med("api.dashboard_reads"),
        "api.read_s_p50": median([x for r in recs for x in r["read_s"]]),
        "api.span_coverage_frac": routes / sum(unit_seconds(recs)),
        "operators.setops.new_vs_existing_s": med("operators.setops.new_vs_existing"),
        "operators.aggregations.token_totals_s": med("operators.aggregations.token_totals"),
    }
    for route in ROUTES:
        name = _route_metric(route)
        out[name] = med(name[:-2])
    return out
