"""End-to-end tests of the NEAR-shaped medallion pipeline on the
deterministic fixtures (FIXTURES.md F1-F7): batch DAG, SCD1 convergence,
and incremental (availableNow + checkpoint) parity with batch.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from near_public_lakehouse_spark.plans.pipeline import build_pipeline, run_batch, run_incremental
from near_public_lakehouse_spark.sources.fixtures import generate_fixtures
from near_public_lakehouse_spark.sources.json_stream import read_blocks, read_shards
from near_public_lakehouse_spark.testing.compare import result_hash

N_BLOCKS = 60
N_SHARDS = 2


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("near_raw")
    counts = generate_fixtures(str(d), n_blocks=N_BLOCKS, n_shards=N_SHARDS)
    assert counts["blocks"] == N_BLOCKS
    return str(d)


@pytest.fixture(scope="module")
def pipe(spark, raw_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("near_out")
    return run_batch(spark, raw_dir, str(out))


def test_node_jobs_carry_the_node_name_as_job_group(spark, pipe):
    tracker = spark.sparkContext.statusTracker()
    chunks = set(tracker.getJobIdsForGroup("silver_chunks"))
    blocks = set(tracker.getJobIdsForGroup("silver_blocks"))
    assert chunks and blocks
    assert not chunks & blocks


def test_bronze_parquet_matches_json_sources(spark, raw_dir, pipe, tmp_path_factory):
    """Feeding the silver nodes from bronze parquet publishes exactly what
    feeding them the parsed JSON frames directly does, table for table."""
    direct = build_pipeline(spark, str(tmp_path_factory.mktemp("near_out_json")))
    direct.run_batch(
        {"raw_blocks": read_blocks(spark, raw_dir), "raw_shards": read_shards(spark, raw_dir)}
    )

    def table_hash(p, name):
        df = p.read(name).drop("_processed_time")
        return result_hash(df.columns, df.collect())

    for name in pipe.tables:
        assert table_hash(pipe, name) == table_hash(direct, name), name


def test_silver_blocks(pipe):
    b = pipe.read("silver_blocks")
    assert b.count() == N_BLOCKS
    assert b.select("block_date").distinct().count() >= 2  # daily partitions
    row = b.orderBy("block_height").first()
    assert row.total_supply.isdigit() and len(row.total_supply) >= 33  # u128 string
    assert row.block_timestamp > 10**18  # ns


def test_silver_chunks_inner_join_drops_orphan(pipe):
    c = pipe.read("silver_chunks")
    # one orphan shard (h=37,s=1) fails the J1 join
    assert c.count() == N_BLOCKS * N_SHARDS - 1
    assert c.filter(F.col("block_hash").isNull()).count() == 0


def test_silver_transactions(pipe):
    t = pipe.read("silver_transactions")
    # 2 txs per shard incl. the orphan-dropped shard
    assert t.count() == (N_BLOCKS * N_SHARDS - 1) * 2
    statuses = {r.status for r in t.select("status").distinct().collect()}
    assert {"SUCCESS_RECEIPT_ID", "SUCCESS_VALUE", "FAILURE"} <= statuses
    assert t.filter(F.col("converted_into_receipt_id").isNull()).count() == 0


def test_transaction_actions_cover_all_kinds(pipe):
    a = pipe.read("silver_transaction_actions")
    kinds = {r.action_kind for r in a.select("action_kind").distinct().collect()}
    assert {
        "CREATE_ACCOUNT",
        "DEPLOY_CONTRACT",
        "TRANSFER",
        "STAKE",
        "ADD_KEY",
        "DELETE_KEY",
        "DELETE_ACCOUNT",
        "DELEGATE_ACTION",
        "FUNCTION_CALL",
    } <= kinds
    assert a.filter(F.col("is_delegate_action")).count() > 0


def test_function_call_args_decode(pipe):
    fc = pipe.read("silver_transaction_actions_function_calls")
    methods = {r.method_name for r in fc.select("method_name").distinct().collect()}
    assert {"ft_transfer", "deposit_and_stake", "set"} <= methods
    amounts = {
        json.loads(r.args_decoded).get("amount")
        for r in fc.filter(F.col("method_name") == "ft_transfer").collect()
    }
    assert "100" in amounts


def test_receipts_and_kinds(pipe):
    r = pipe.read("silver_receipts")
    kinds = {x.receipt_kind for x in r.select("receipt_kind").distinct().collect()}
    assert kinds == {"ACTION", "DATA"}
    ar = pipe.read("silver_action_receipts")
    assert ar.filter(F.col("signer_account_id").isNull()).count() == 0
    dr = pipe.read("silver_data_receipts")
    assert dr.count() > 0
    # null and non-null Data payloads both present (F4)
    assert dr.filter(F.col("data_is_null")).count() > 0
    assert dr.filter(~F.col("data_is_null")).count() > 0


def test_execution_outcome_lineage(pipe):
    eor = pipe.read("silver_execution_outcome_receipts")
    assert eor.filter(F.col("produced_receipt_id").startswith("CHILD")).count() > 0

    origin = pipe.read("silver_receipt_originated_from_transaction")
    txs = pipe.read("silver_transactions")
    # every converted receipt maps back to its transaction
    direct = origin.join(
        txs.select(
            F.col("converted_into_receipt_id").alias("receipt_id"),
            F.col("transaction_hash").alias("expected_tx"),
        ),
        "receipt_id",
    )
    assert direct.filter(
        F.col("originated_from_transaction_hash") != F.col("expected_tx")
    ).count() == 0
    # child receipts (depth 2) inherit the same origin
    assert origin.filter(F.col("receipt_id").startswith("CHILD")).count() > 0


def test_ft_event_legs(pipe):
    ft = pipe.read("silver_execution_outcome_ft_event_logs")
    transfers = ft.filter(F.col("cause") == "ft_transfer")
    # each ft_transfer produces a -leg and a +leg
    legs = transfers.groupBy("receipt_id").count()
    assert legs.filter(F.col("count") != 2).count() == 0
    neg = transfers.filter(F.col("delta_amount").startswith("-"))
    assert neg.count() == transfers.count() / 2
    # FAILURE-status ft_mint events are excluded (SCD tables.sql:137)
    assert ft.filter(F.col("cause") == "ft_mint").count() == 0
    # event_index packs into decimal strings longer than any BIGINT
    assert len(ft.first().event_index) >= 20


def test_nft_and_nep245_events(pipe):
    nft = pipe.read("silver_execution_outcome_nft_event_logs")
    tokens = {r.token_id for r in nft.select("token_id").distinct().collect()}
    assert tokens == {"t1", "t2"}
    mt = pipe.read("silver_nep245_events")
    row = mt.first()
    assert row.token_id == "nep141:usdc" and row.amount == "7"


def test_dip4_token_diff_legs(pipe):
    d = pipe.read("silver_dip4_token_diff")
    rows = d.collect()
    assert len(rows) > 0
    by_token = {(r.token_id, r.delta_amount, r.is_outgoing) for r in rows}
    assert ("nep141:usdc", "-7", True) in by_token
    assert ("nep141:wnear", "3", False) in by_token
    assert all(r.intent_hash.startswith("H") for r in rows)


def test_dip4_public_keys_intents_fees(pipe):
    pk = pipe.read("silver_dip4_public_keys")
    rows = pk.collect()
    assert len(rows) > 0
    assert all(r.event in ("public_key_added", "public_key_removed") for r in rows)
    assert all(r.public_key.startswith("ed25519:PK") for r in rows)
    assert all(r.contract_account_id == "intents.near" for r in rows)

    ie = pipe.read("silver_dip4_intents_executed")
    ie_rows = ie.collect()
    assert len(ie_rows) > 0
    assert all(r.intent_hash.startswith("H") for r in ie_rows)
    assert all(r.account_id != "" for r in ie_rows)
    # one executed intent per fixture event datum
    assert ie.groupBy("receipt_id").count().filter(F.col("count") != 1).count() == 0

    fc = pipe.read("silver_dip4_fee_changed")
    fc_rows = fc.collect()
    assert len(fc_rows) > 0
    assert all((r.old_fee, r.new_fee) == ("100", "150") for r in fc_rows)


def test_gold_intents_metrics(pipe, spark):
    """gold_view_intents_metrics: usd conversion via the price dimension,
    referral attribution via the token_diff join, conditional volume sums
    (reference gold_view_intents_metrics)."""
    from near_public_lakehouse_spark.plans.events import (
        defuse_assets_from_api,
        gold_view_intents_metrics,
    )

    mt = pipe.read("silver_nep245_events")
    diff = pipe.read("silver_dip4_token_diff")
    # price dimension covering every (token, day) in the fixture window
    days = [str(r[0]) for r in mt.select(F.to_date("block_timestamp_utc")).distinct().collect()]
    assets = defuse_assets_from_api(
        spark,
        lambda: {
            "items": [
                {
                    "blockchain": "near",
                    "contract_address": "usdc.near",
                    "decimals": 0,
                    "defuse_asset_id": "nep141:usdc",
                    "price": 2.0,
                    "price_updated_at": f"{d} 12:00:00",
                    "symbol": "USDC",
                }
                for d in days
            ]
        },
    )
    g = gold_view_intents_metrics(mt, diff, assets)
    rows = g.collect()
    assert len(rows) > 0
    # every fixture nep245 event is an mt_transfer of 7 usdc at price 2.0
    assert all(r.symbol == "USDC" and r.referral == "r.near" for r in rows)
    total = sum(r.transfer_volume for r in rows)
    # the view's DISTINCT (present in the reference too) collapses legs
    # identical across shards of one block — count distinct legs, not rows
    n_legs = (
        mt.filter(F.col("event") == "mt_transfer")
        .select("block_timestamp_utc", "block_hash", "old_owner_id", "new_owner_id", "token_id")
        .distinct()
        .count()
    )
    assert abs(total - 14.0 * n_legs) < 1e-6
    assert all(r.deposits is None and r.withdraws is None for r in rows)


def test_near_social_parsing(pipe):
    parsed = pipe.read("silver_near_social_txs_parsed")
    assert parsed.count() > 0
    row = parsed.filter(F.col("profile").isNotNull()).first()
    assert json.loads(row.profile)["name"].startswith("user ")
    assert row.account_id == row.signer_account_id


def test_validators_receipt_actions(pipe):
    v = pipe.read("silver_validators_receipt_actions")
    assert v.count() > 0
    assert v.filter(~F.col("receiver_account_id").endswith(".poolv1.near")).count() == 0


def test_account_changes(pipe):
    ac = pipe.read("silver_account_changes")
    assert ac.count() > 0
    # only account_update rows kept (P6)
    assert ac.filter(F.col("nonstaked_balance").isNull()).count() == 0


def test_scd1_accounts_match_batch_argmax(pipe, spark):
    """SCD1 state must equal the batch arg-max over the full change feed."""
    from near_public_lakehouse_spark.operators.scd import latest_by
    from near_public_lakehouse_spark.plans.scd_tables import accounts_changes

    ara = pipe.read("silver_action_receipt_actions")
    expected = latest_by(accounts_changes(ara), ["account_id"], "block_timestamp")
    actual = pipe.read("silver_accounts")
    exp = {(r.account_id, r.is_active) for r in expected.collect()}
    act = {(r.account_id, r.is_active) for r in actual.collect()}
    assert exp == act
    # the CREATE->TRANSFER->DELETE arc converges to inactive
    temp = actual.filter(F.col("account_id") == "temp.near").collect()
    assert len(temp) == 1 and temp[0].is_active is False


def test_scd1_access_keys(pipe):
    ak = pipe.read("silver_access_keys")
    perms = {r.permission_kind for r in ak.select("permission_kind").distinct().collect()}
    assert "FULL_ACCESS" in perms and "FUNCTION_CALL" in perms
    fc = ak.filter(F.col("permission_kind") == "FUNCTION_CALL").first()
    assert fc.allowed_receiver_id == "ft.near"


@pytest.mark.slow  # 33 s; full lane covers it (r16 two-lane suite)
def test_incremental_matches_batch(spark, raw_dir, pipe, tmp_path_factory):
    """Half the files, run; rest of the files, run again — the incremental
    (checkpointed availableNow) result must equal the batch result."""
    inc_raw = tmp_path_factory.mktemp("near_raw_inc")
    out = tmp_path_factory.mktemp("near_out_inc")
    ckpt = tmp_path_factory.mktemp("near_ckpt")
    files = sorted(os.listdir(raw_dir))
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(os.path.join(raw_dir, f), inc_raw)
    run_incremental(spark, str(inc_raw), str(out), str(ckpt))
    for f in files[half:]:
        shutil.copy(os.path.join(raw_dir, f), inc_raw)
    p2 = run_incremental(spark, str(inc_raw), str(out), str(ckpt))

    for table in ["silver_blocks", "silver_transactions", "silver_receipts"]:
        assert p2.read(table).count() == pipe.read(table).count(), table

    # SCD1 converged identically
    b = {(r.account_id, r.is_active) for r in pipe.read("silver_accounts").collect()}
    i = {(r.account_id, r.is_active) for r in p2.read("silver_accounts").collect()}
    assert b == i

    # published public_lakehouse tables: the insert-only MERGE fold over
    # two drains equals the single-shot batch publish (everything except
    # the publish stamp, which legitimately differs per run)
    def content(p, table, drop=("_processed_time",)):
        df = p.read(table).drop(*drop)
        cols = sorted(df.columns)
        # repr canonicalization: rows carry nested structs/arrays (the
        # actions decode), which are unhashable as raw tuples
        return {repr(r) for r in df.select(cols).collect()}

    for table in [
        "public_block_chunks",
        "public_actions",
        "public_logs",
        "public_ft_transfers",
        "public_nft_transfers",
    ]:
        got, want = content(p2, table), content(pipe, table)
        assert got == want and len(got) > 0, table


def test_publication_path_end_to_end(spark, tmp_path):
    """Capstone composition: events land in a versioned bronze table
    (atomic commits), a streaming tail drains the change feed into a
    published silver table (exactly-once, offset inside the commit), and
    the hourly exporter publishes closed hours as real avro bytes readable
    by the official JVM reader — the reference's silver -> public-datasets
    flow re-expressed end to end."""
    import os
    from datetime import datetime, timezone

    from near_public_lakehouse_spark.operators.export import (
        export_closed_hours,
        read_export,
    )
    from near_public_lakehouse_spark.operators.versioned import (
        commit_append,
        tail_into,
        tail_until_drained,
    )

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ns_h = 3_600 * 1_000_000_000
    h0 = 490_000

    # two bronze commits (e.g. two ingest batches)
    b1 = spark.createDataFrame(
        [(i, h0 * ns_h + i * ns_h // 8, "click") for i in range(8)],
        "event_id long, ts long, event_type string",
    )
    b2 = spark.createDataFrame(
        [(100 + i, (h0 + 1) * ns_h + i * ns_h // 4, "view") for i in range(4)],
        "event_id long, ts long, event_type string",
    )
    commit_append(b1, bronze)
    commit_append(b2, bronze)

    # drain the change feed into silver (filter = the "published" projection)
    tail_until_drained(
        spark,
        bronze,
        silver,
        transform=lambda df: df.filter("event_type in ('click','view')"),
        max_versions_per_batch=1,
    )
    from near_public_lakehouse_spark.operators.versioned import latest_version, read_version

    silver_df = read_version(spark, silver, latest_version(silver))
    assert silver_df.count() == 12

    # re-run the tail: nothing new, no double-append (exactly-once)
    tail_into(spark, bronze, silver)
    assert read_version(spark, silver, latest_version(silver)).count() == 12

    # hourly publication: both hours closed -> two avro folders
    now = datetime.fromtimestamp((h0 + 3) * 3600, tz=timezone.utc).replace(tzinfo=None)
    written = export_closed_hours(
        silver_df, str(tmp_path / "pub"), "events", "ts", now
    )
    assert len(written) == 2
    total = sum(read_export(spark, p, "avro").count() for p in written)
    assert total == 12

    # the bytes are real avro: official JVM reader agrees on a folder
    part = next(
        os.path.join(written[0], f)
        for f in sorted(os.listdir(written[0]))
        if f.endswith(".avro")
    )
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(part), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    n = 0
    while reader.hasNext():
        reader.next()
        n += 1
    reader.close()
    assert n > 0
