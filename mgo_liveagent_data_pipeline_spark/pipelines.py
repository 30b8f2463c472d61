"""End-to-end route pipelines — the reference's FastAPI entry points
(SURVEY §3) assembled from transforms + enrich + sinks. A user of the
reference maps each route onto one function here:

POST /extract/process-tickets-and-messages → run_ticket_pipeline +
    run_message_pipeline (Extractor.py:56-176)
POST /extract/process-convo → run_convo_pipeline (Extractor.py:254-327)
POST /extract/process-agents → run_agents_pipeline (Extractor.py:212)
POST /process-logs → run_logs_pipeline (ExtractionLogger.py:95-176)

Each stage is lazy until its sink write; incremental semantics come from
the staged-MERGE upsert (K4) exactly like the reference's BigQuery MERGE.

The convo route is incremental too: given the keys of the conversations
with new messages since the last pass (``api.Engine`` tracks them), it
re-analyses only those, each over all its messages, and keeps the stored
analysis of every other conversation — the reference analyses only the
run's recent tickets (Extractor.py:256-263). History gets one snapshot
of the merged current state per pass; switching it to the analysed rows
only, as the reference's history holds, is deferred.
"""
from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .enrich.convo import analyze_conversations
from .functions.datetimes import fuse_schedule
from .operators.setops import new_vs_existing_counts
from .sinks.writers import append, history_append, overwrite, table_path, upsert
from .transforms.messages import process_messages
from .transforms.tickets import process_agents, process_tags, process_tickets


def run_ticket_pipeline(
    spark: SparkSession,
    raw_tickets: DataFrame,
    base_dir: str,
    now: Column | None = None,
) -> str:
    """Transform + idempotent MERGE upsert keyed on id (Extractor.py:56-100)."""
    df = process_tickets(raw_tickets, now)
    return upsert(spark, df, base_dir, "tickets", "id")


def run_message_pipeline(
    spark: SparkSession,
    raw_messages: DataFrame,
    agents: DataFrame,
    base_dir: str,
    now: Column | None = None,
) -> str:
    """Enrich (sender/receiver, reference_code) + append-only load
    (Extractor.py:102-176; messages are append-only, Extractor.py:162)."""
    df = process_messages(raw_messages, agents, now=now)
    return append(df, base_dir, "messages")


def run_agents_pipeline(
    spark: SparkSession, raw_agents: DataFrame, base_dir: str
) -> str:
    """Dimension refresh: WRITE_TRUNCATE (Extractor.py:212)."""
    return overwrite(process_agents(raw_agents), base_dir, "agents")


def run_tags_pipeline(
    spark: SparkSession, raw_tags: DataFrame, base_dir: str
) -> str:
    """Tags dimension refresh: NaN-fill + WRITE_TRUNCATE
    (Extractor.py:239, extraction_helpers.py:242-245)."""
    return overwrite(process_tags(raw_tags), base_dir, "tags")


def convo_messages(messages: DataFrame) -> DataFrame:
    """P4: the messages a conversation is made of — manual (``M``)
    messages in text (``T``) format (Extractor.py:256-263)."""
    return messages.where(
        (F.col("message_type") == "M") & (F.col("message_format") == "T")
    )


def run_convo_pipeline(
    spark: SparkSession,
    messages: DataFrame,
    gateway: Callable[[str], tuple[str, int, str]],
    base_dir: str,
    changed_keys: DataFrame | None = None,
) -> str:
    """LLM conversation analysis: P4 filter → A5+U1 mapInPandas →
    F11 schedule fusion → K5 history append → current-state overwrite
    (Extractor.py:254-327).

    ``changed_keys`` (a ``ticket_id`` column) names the conversations
    with new messages since the last pass. Only those are analysed, each
    once and over all its messages in ``messages``; ``None`` analyses
    every conversation. The merged state — the stored rows of every key
    not analysed plus the new analysis — is appended to
    ``convo_analysis_history`` as this pass's snapshot, then replaces
    ``convo_analysis``.
    """
    convo_msgs = convo_messages(messages)
    if changed_keys is not None:
        convo_msgs = convo_msgs.join(
            changed_keys.select("ticket_id"), on="ticket_id", how="left_semi"
        )
    analyzed = analyze_conversations(
        convo_msgs,
        gateway,
        key_col="ticket_id",
        order_cols=("message_datecreated", "message_id"),
        text_col="message",
        id_col="message_id",
        ts_col="message_datecreated",
    ).withColumn(
        "schedule_ts",
        fuse_schedule(F.col("schedule_date"), F.col("schedule_time")),
    )
    # both writes below read the analysis: materialise it, so the
    # gateway is called once per analysed conversation
    analyzed = analyzed.persist()
    try:
        analyzed.count()
        merged = analyzed
        path = table_path(base_dir, "convo_analysis")
        if os.path.exists(path):
            merged = (
                spark.read.parquet(path)
                .join(analyzed.select("ticket_id"), on="ticket_id", how="left_anti")
                .unionByName(analyzed)
            )
        history_append(spark, merged, base_dir, "convo_analysis")
        # safe to read-while-writing: the staged overwrite reads the old
        # files before its swap
        return overwrite(merged, base_dir, "convo_analysis")
    finally:
        analyzed.unpersist()


def run_logs_pipeline(
    spark: SparkSession,
    run_keys: DataFrame,
    existing_keys: DataFrame,
    key: str,
    analyzed: DataFrame,
    base_dir: str,
) -> str:
    """Run metrics: E1/E2 new-vs-existing accounting + A1 token totals →
    one-row append to logs (ExtractionLogger.py:95-176)."""
    counts = new_vs_existing_counts(run_keys, existing_keys, key)
    tokens = analyzed.agg(
        F.sum("tokens").alias("total_tokens"),
        F.max("model").alias("model"),
    )
    row = counts.crossJoin(tokens).select(
        F.date_trunc("second", F.current_timestamp()).alias("extraction_date"),
        F.col("n_new").alias("no_new"),
        F.col("n_existing").alias("no_existing"),
        F.col("n_total").alias("no_total"),
        "total_tokens",
        "model",
    )
    return append(row, base_dir, "logs")


def read_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(base_dir, name))
