"""The full NEAR-shaped medallion DAG wired onto the runner — the OSS
equivalent of the reference's DLT pipeline graph (SURVEY §3.1).

Bronze sources: `raw_blocks` / `raw_shards` (file-glob JSON, S1). A batch
refresh parses the JSON once into bronze parquet under `out_dir/_bronze/`
(the reference's `blocks` / `chunks` tables) and feeds the silver nodes
from it; an incremental refresh streams the JSON files directly.
Silver: every table from SURVEY §1.4 that the fixture surface exercises.
SCD1: accounts / access_keys / function-call methods / outcome events via
operators.scd.apply_changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from near_public_lakehouse_spark.operators.scd import apply_changes, latest_by
from near_public_lakehouse_spark.plans import events as ev
from near_public_lakehouse_spark.plans import public as pub
from near_public_lakehouse_spark.plans import scd_tables as scd_feeds
from near_public_lakehouse_spark.plans import silver as sv
from near_public_lakehouse_spark.plans import testnet as tn
from near_public_lakehouse_spark.sources.json_stream import read_blocks, read_shards
from near_public_lakehouse_spark.streaming.runner import Pipeline


def _scd_apply(keys: list[str], sequence_by: str, ignore_null_updates: bool = False):
    def apply(spark: SparkSession, updates: DataFrame, path: str) -> None:
        apply_changes(
            spark, path, updates, keys, sequence_by, ignore_null_updates=ignore_null_updates
        )

    return apply


def _public_apply(table: str):
    """Publish-side apply: insert-only MERGE on the table's natural key —
    the reference's `WHEN NOT MATCHED THEN INSERT *` (NB NEAR Public
    Datasets.py). In run_batch the runner full-refreshes into a fresh
    path; in run_incremental this folds new rows into the published
    table idempotently."""

    def apply(spark: SparkSession, updates: DataFrame, path: str) -> None:
        from near_public_lakehouse_spark.operators.merge import merge_upsert

        keys, part = pub.PUBLIC_TABLE_KEYS[table]
        merge_upsert(
            spark, path, updates, keys, partition_col=part, when_matched_update=False
        )

    return apply


def build_pipeline(
    spark: SparkSession, out_dir: str, processed_time: str | None = None
) -> Pipeline:
    p = Pipeline(spark, out_dir)
    t = p.table

    @t("silver_blocks", ["raw_blocks"])
    def _blocks(spark, i):
        return sv.silver_blocks(i["raw_blocks"])

    @t("silver_chunks", ["raw_shards", "silver_blocks"])
    def _chunks(spark, i):
        return sv.silver_chunks(i["raw_shards"], i["silver_blocks"])

    @t("silver_chunks_testnet", ["raw_shards", "silver_blocks"])
    def _chunks_testnet(spark, i):
        return tn.silver_chunks_testnet(i["raw_shards"], i["silver_blocks"])

    @t("silver_transactions", ["raw_shards", "silver_blocks"])
    def _txs(spark, i):
        return sv.silver_transactions(i["raw_shards"], i["silver_blocks"])

    @t("silver_transaction_actions", ["raw_shards", "silver_blocks"])
    def _tx_actions(spark, i):
        return sv.silver_transaction_actions(i["raw_shards"], i["silver_blocks"])

    @t("silver_transaction_actions_function_calls", ["silver_transaction_actions"])
    def _tx_fc(spark, i):
        return sv.silver_transaction_actions_function_calls(i["silver_transaction_actions"])

    @t("silver_execution_outcomes", ["raw_shards", "silver_blocks"])
    def _outcomes(spark, i):
        return sv.silver_execution_outcomes(i["raw_shards"], i["silver_blocks"])

    @t("silver_execution_outcome_logs", ["silver_execution_outcomes"])
    def _logs(spark, i):
        return sv.silver_execution_outcome_logs(i["silver_execution_outcomes"])

    @t("silver_execution_outcome_receipts", ["silver_execution_outcomes"])
    def _oc_receipts(spark, i):
        return sv.silver_execution_outcome_receipts(i["silver_execution_outcomes"])

    @t("silver_receipts", ["raw_shards", "silver_blocks"])
    def _receipts(spark, i):
        return sv.silver_receipts(i["raw_shards"], i["silver_blocks"])

    @t("silver_action_receipts", ["silver_receipts"])
    def _action_receipts(spark, i):
        return sv.silver_action_receipts(i["silver_receipts"])

    @t("silver_action_receipt_actions", ["silver_receipts"])
    def _ara(spark, i):
        return sv.silver_action_receipt_actions(i["silver_receipts"])

    @t("silver_data_receipts", ["silver_receipts"])
    def _data_receipts(spark, i):
        return sv.silver_data_receipts(i["silver_receipts"])

    @t("silver_action_receipt_output_data", ["silver_receipts"])
    def _out_data(spark, i):
        return sv.silver_action_receipt_output_data(i["silver_receipts"])

    @t("silver_action_receipt_input_data", ["silver_receipts"])
    def _in_data(spark, i):
        return sv.silver_action_receipt_input_data(i["silver_receipts"])

    @t("silver_validators_receipt_actions", ["silver_action_receipt_actions"])
    def _validators(spark, i):
        return sv.silver_validators_receipt_actions(i["silver_action_receipt_actions"])

    @t("silver_account_changes", ["raw_shards", "silver_blocks"])
    def _account_changes(spark, i):
        return sv.silver_account_changes(i["raw_shards"], i["silver_blocks"])

    @t(
        "silver_receipt_originated_from_transaction",
        ["silver_transactions", "silver_execution_outcome_receipts"],
    )
    def _origin(spark, i):
        return sv.silver_receipt_originated_from_transaction(
            i["silver_transactions"], i["silver_execution_outcome_receipts"]
        )

    @t("parsed_event_logs", ["silver_execution_outcome_logs"])
    def _events(spark, i):
        return ev.event_logs(i["silver_execution_outcome_logs"])

    @t("silver_execution_outcome_ft_event_logs", ["parsed_event_logs"])
    def _ft(spark, i):
        return ev.silver_execution_outcome_ft_event_logs(i["parsed_event_logs"])

    @t("silver_execution_outcome_nft_event_logs", ["parsed_event_logs"])
    def _nft(spark, i):
        return ev.silver_execution_outcome_nft_event_logs(i["parsed_event_logs"])

    @t("silver_nep245_events", ["parsed_event_logs"])
    def _nep245(spark, i):
        return ev.silver_nep245_events(i["parsed_event_logs"])

    @t("silver_dip4_token_diff", ["silver_execution_outcome_logs"])
    def _dip4(spark, i):
        return ev.silver_dip4_token_diff(i["silver_execution_outcome_logs"])

    @t("silver_dip4_public_keys", ["silver_execution_outcome_logs"])
    def _dip4_pk(spark, i):
        return ev.silver_dip4_public_keys(i["silver_execution_outcome_logs"])

    @t("silver_dip4_intents_executed", ["silver_execution_outcome_logs"])
    def _dip4_intents(spark, i):
        return ev.silver_dip4_intents_executed(i["silver_execution_outcome_logs"])

    @t("silver_dip4_fee_changed", ["silver_execution_outcome_logs"])
    def _dip4_fees(spark, i):
        return ev.silver_dip4_fee_changed(i["silver_execution_outcome_logs"])

    @t(
        "silver_deployed_contracts",
        ["silver_action_receipt_actions", "silver_execution_outcomes"],
    )
    def _deployed(spark, i):
        from near_public_lakehouse_spark.plans import balances as bl

        return bl.silver_deployed_contracts(
            i["silver_action_receipt_actions"], i["silver_execution_outcomes"]
        )

    @t("silver_near_social_txs", ["silver_action_receipt_actions"])
    def _social(spark, i):
        return ev.silver_near_social_txs(i["silver_action_receipt_actions"])

    @t("silver_near_social_txs_parsed", ["silver_near_social_txs"])
    def _social_parsed(spark, i):
        return ev.silver_near_social_txs_parsed(i["silver_near_social_txs"])

    # --- SCD-1 dimension tables (APPLY CHANGES) ---------------------------

    @t(
        "silver_accounts",
        ["silver_action_receipt_actions"],
        partition_by=None,
        apply=_scd_apply(["account_id"], "block_timestamp"),
    )
    def _accounts(spark, i):
        return scd_feeds.accounts_changes(i["silver_action_receipt_actions"])

    @t(
        "silver_access_keys",
        ["silver_action_receipt_actions"],
        partition_by=None,
        apply=_scd_apply(["account_id", "public_key"], "block_timestamp", True),
    )
    def _access_keys(spark, i):
        return scd_feeds.access_keys_changes(i["silver_action_receipt_actions"])

    @t(
        "silver_action_function_call_methods",
        ["silver_action_receipt_actions"],
        partition_by=None,
        apply=_scd_apply(["method_name", "contract_account_id"], "block_timestamp"),
    )
    def _fc_methods(spark, i):
        return scd_feeds.function_call_methods_changes(i["silver_action_receipt_actions"])

    @t(
        "silver_execution_outcome_events",
        ["parsed_event_logs"],
        partition_by=None,
        apply=_scd_apply(["standard", "version", "event", "contract_account_id"], "block_timestamp"),
    )
    def _oc_events(spark, i):
        return scd_feeds.execution_outcome_events_changes(i["parsed_event_logs"])

    # --- published public_lakehouse consumer tables (NB NEAR Public
    # Datasets.py; VERDICT r8 task #2) -------------------------------------
    # The hour-truncated publish stamp the reference computes at :38-43.
    if processed_time is None:
        from datetime import datetime

        processed_time = datetime.now().replace(
            minute=0, second=0, microsecond=0
        ).strftime("%Y-%m-%d %H:%M:%S")

    @t(
        "public_block_chunks",
        ["silver_chunks", "silver_blocks"],
        partition_by="date",
        apply=_public_apply("block_chunks"),
    )
    def _pub_block_chunks(spark, i):
        return pub.public_block_chunks(
            i["silver_chunks"], i["silver_blocks"], processed_time
        )

    @t(
        "public_actions",
        [
            "silver_action_receipt_actions",
            "silver_receipts",
            "silver_receipt_originated_from_transaction",
            "silver_execution_outcomes",
            "silver_transactions",
            "silver_blocks",
        ],
        apply=_public_apply("actions"),
    )
    def _pub_actions(spark, i):
        return pub.public_actions(
            i["silver_action_receipt_actions"],
            i["silver_receipts"],
            i["silver_receipt_originated_from_transaction"],
            i["silver_execution_outcomes"],
            i["silver_transactions"],
            i["silver_blocks"],
            processed_time,
        )

    @t(
        "public_logs",
        ["silver_execution_outcome_logs"],
        apply=_public_apply("logs"),
    )
    def _pub_logs(spark, i):
        return pub.public_logs(i["silver_execution_outcome_logs"], processed_time)

    @t(
        "public_ft_transfers",
        ["silver_execution_outcome_ft_event_logs"],
        apply=_public_apply("ft_transfers"),
    )
    def _pub_ft(spark, i):
        return pub.public_ft_transfers(
            i["silver_execution_outcome_ft_event_logs"], processed_time
        )

    @t(
        "public_nft_transfers",
        ["silver_execution_outcome_nft_event_logs"],
        apply=_public_apply("nft_transfers"),
    )
    def _pub_nft(spark, i):
        return pub.public_nft_transfers(
            i["silver_execution_outcome_nft_event_logs"], processed_time
        )

    return p


def run_batch(spark: SparkSession, raw_dir: str, out_dir: str) -> Pipeline:
    """Full batch refresh from raw JSON files. The JSON is parsed once into
    bronze parquet under `out_dir/_bronze/`, and every node that reads a
    raw source reads that parquet."""
    p = build_pipeline(spark, out_dir)
    sources = {}
    for name, read in (("raw_blocks", read_blocks), ("raw_shards", read_shards)):
        path = os.path.join(out_dir, "_bronze", name)
        raw = read(spark, raw_dir)
        raw.write.mode("overwrite").parquet(path)
        sources[name] = spark.read.schema(raw.schema).parquet(path)
    p.run_batch(sources)
    return p


def run_incremental(
    spark: SparkSession, raw_dir: str, out_dir: str, checkpoint_dir: str
) -> Pipeline:
    """Incremental refresh: availableNow streams over the raw file feed."""
    p = build_pipeline(spark, out_dir)
    stream_sources = {
        "raw_blocks": lambda s, streaming: read_blocks(s, raw_dir, streaming=streaming),
        "raw_shards": lambda s, streaming: read_shards(s, raw_dir, streaming=streaming),
    }
    p.run_incremental(stream_sources, checkpoint_dir)
    return p


__all__ = ["build_pipeline", "run_batch", "run_incremental", "latest_by"]
