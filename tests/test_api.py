"""Dispatcher + RuntimeTracker parity tests (reference api/app.py routes)."""
from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mgo_liveagent_data_pipeline_spark.api import Engine


def _now():
    return F.lit(dt.datetime(2024, 2, 1, 12, 0, 0)).cast("timestamp")


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path))


def _seed(spark, engine, msgs=(("t1", "m1", "need help"),)):
    """One tickets-and-messages dispatch: a ticket and an M/T message per
    ``(ticket_id, message_id, text)`` in ``msgs``."""
    agents = spark.createDataFrame(
        [("a1", "Alice", "a@x.ph", None)],
        "id string, name string, email string, last_pswd_change timestamp",
    )
    tickets = spark.createDataFrame(
        [(t, "open", dt.datetime(2024, 1, 1)) for t in sorted({m[0] for m in msgs})],
        "id string, status string, date_created timestamp",
    )
    messages = spark.createDataFrame(
        [
            (t, "Owen", "a1", m, "u9", "M", "T",
             dt.datetime(2024, 1, 1, 10, int(m[1:])), text)
            for t, m, text in msgs
        ],
        "ticket_id string, owner_name string, agentid string, message_id string,"
        "userid string, message_type string, message_format string,"
        "message_datecreated timestamp, message string",
    )
    engine.dispatch("extract/process-agents", raw_agents=agents)
    engine.dispatch(
        "extract/process-tickets-and-messages",
        raw_tickets=tickets,
        raw_messages=messages,
        now=_now(),
    )


def _convo(engine):
    return sorted(
        map(tuple, engine.dispatch("fetch", table="convo_analysis", limit=100).collect())
    )


def test_scheduler_order_end_to_end(spark, engine):
    _seed(spark, engine)
    engine.dispatch("extract/process-convo")
    msgs = engine.dispatch("fetch", table="messages")
    run_keys = msgs.select("ticket_id").distinct()
    existing = spark.createDataFrame([], "ticket_id string")
    engine.dispatch("process-logs", run_keys=run_keys, existing_keys=existing)

    convo = engine.dispatch("fetch", table="convo_analysis").collect()
    assert len(convo) == 1 and convo[0]["model"] == "stub-v1"
    logs = engine.dispatch("fetch", table="logs").collect()
    assert logs[0]["no_new"] == 1

    summary = engine.tracker.summary()
    assert summary["extract/process-convo"]["n"] == 1
    assert engine.tracker.health()["status"] == "ok"
    assert all(r["wall_sec"] is not None for r in engine.tracker.logs())


def test_unknown_route_and_table_guard(spark, engine):
    with pytest.raises(KeyError):
        engine.dispatch("no/such/route")
    with pytest.raises(ValueError):
        engine.dispatch("fetch", table="users; DROP TABLE")
    assert engine.tracker.health()["status"] == "degraded"
    assert engine.tracker.summary()["fetch"]["failed"] == 1


def test_tags_route_nan_fill_truncate(spark, engine):
    tags = spark.createDataFrame(
        [("g1", None, None), ("g2", "urgent", "red")],
        "id string, name string, color string",
    )
    engine.dispatch("extract/process-tags", raw_tags=tags)
    engine.dispatch("extract/process-tags", raw_tags=tags)  # truncate, not append
    rows = {r["id"]: r for r in engine.dispatch("fetch", table="tags").collect()}
    assert len(rows) == 2
    assert rows["g1"]["name"] == ""  # NaN-filled
    assert rows["g2"]["color"] == "red"


def test_fresh_engine_does_full_convo_pass(spark, tmp_path, counting_gateway):
    gateway, calls = counting_gateway
    base = str(tmp_path)
    first = Engine(spark, base)
    _seed(spark, first, (("t1", "m1", "need help"), ("t2", "m2", "hello")))
    first.dispatch("extract/process-convo")

    # a new Engine does not know which conversations the tables hold
    # unanalysed, so even with one changed ticket it analyses them all
    fresh = Engine(spark, base, gateway=gateway)
    _seed(spark, fresh, (("t1", "m3", "at 3PM please"),))
    fresh.dispatch("extract/process-convo")
    assert calls() == 2
    assert [r[0] for r in _convo(fresh)] == ["t1", "t2"]
    # its next pass re-analyses only what changed since
    _seed(spark, fresh, (("t2", "m4", "thanks"),))
    fresh.dispatch("extract/process-convo")
    assert calls() == 2 + 1


def test_failed_convo_pass_keeps_pending_tickets(
    spark, tmp_path, monkeypatch, counting_gateway
):
    import mgo_liveagent_data_pipeline_spark.pipelines as pipelines

    gateway, calls = counting_gateway
    engine = Engine(spark, str(tmp_path), gateway=gateway)
    _seed(spark, engine)
    engine.dispatch("extract/process-convo")
    assert calls() == 1
    _seed(spark, engine, (("t2", "m2", "hello"),))

    def boom(*args, **kwargs):
        raise RuntimeError("history write failed")

    with monkeypatch.context() as m:
        m.setattr(pipelines, "history_append", boom)
        with pytest.raises(RuntimeError, match="history write failed"):
            engine.dispatch("extract/process-convo")
    assert [r[0] for r in _convo(engine)] == ["t1"]
    n = calls()
    engine.dispatch("extract/process-convo")
    assert calls() == n + 1  # t2 again, not t1
    assert [r[0] for r in _convo(engine)] == ["t1", "t2"]
    assert engine.tracker.summary()["extract/process-convo"]["failed"] == 1


def test_convo_pass_without_new_messages_keeps_state(
    spark, tmp_path, counting_gateway
):
    gateway, calls = counting_gateway
    engine = Engine(spark, str(tmp_path), gateway=gateway)
    _seed(spark, engine, (("t1", "m1", "need help"), ("t2", "m2", "hello")))
    engine.dispatch("extract/process-convo")
    before = _convo(engine)
    engine.dispatch("extract/process-convo")
    assert calls() == 2
    assert _convo(engine) == before
