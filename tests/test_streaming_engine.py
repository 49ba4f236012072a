"""Engine (consumer-group parity) tests — the Spark analogs of the
reference's integration suite (SURVEY.md §5):

- delivery test ≙ TestKinesumer_Consume (kinesumer_test.go:137-193)
- checkpoint/commit test ≙ TestKinesumer_Commit (:415-464)
- kill/restart recovery ≙ TestShardsRebalancing's reassignment checks
  (:195-317) — on Spark, recovery-from-WAL is the equivalent guarantee
- error channel ≙ sendOrDiscardError (kinesumer.go:833-844)
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from kinesumer_spark.streaming.engine import CommitConfig, Engine, StreamSource
from kinesumer_spark.streaming.envelope import RECORD_SCHEMA

from .conftest import SF_SMALL

EVENTS_PARQUET = os.path.join(SF_SMALL, "events.parquet")


@pytest.fixture()
def events_dir(tmp_path):
    """The events table split into 4 parquet files (microbatch fodder)."""
    t = pq.read_table(EVENTS_PARQUET)
    d = tmp_path / "events_in"
    d.mkdir()
    n = t.num_rows
    step = (n + 3) // 4
    for i in range(4):
        chunk = t.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, d / f"part-{i}.parquet")
    return str(d), n


def _collecting_sink(store: list):
    def sink(batch_df, batch_id):
        rows = batch_df.select("stream", "shard_id", "sequence_number").collect()
        store.append((batch_id, rows))

    return sink


def test_consume_delivers_all_records(spark, tmp_path, events_dir):
    path, n_total = events_dir
    eng = Engine(spark, app="t-deliver", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=2)])
    assert records.isStreaming
    # name/type parity (nullability is expression-derived in Spark)
    assert [(f.name, f.dataType) for f in records.schema.fields] == [
        (f.name, f.dataType) for f in RECORD_SCHEMA.fields
    ]

    seen: list = []
    q = eng.run(records, _collecting_sink(seen))
    q.processAllAvailable()
    eng.close()

    delivered = [r for _, rows in seen for r in rows]
    assert len(delivered) == n_total
    assert len(seen) >= 2  # maxFilesPerTrigger=2 over 4 files → ≥2 batches
    assert {r["stream"] for r in delivered} == {"events"}
    assert len({r["shard_id"] for r in delivered}) == 5  # 5-shard fixture


def test_commit_ledger_has_shard_high_water_marks(spark, tmp_path, events_dir):
    path, _ = events_dir
    eng = Engine(spark, app="t-commit", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path)])
    q = eng.run(records, lambda df, bid: None)
    q.processAllAvailable()
    eng.close()

    cps = eng.checkpoints()
    assert len(cps) == 5
    # ListCheckPoints parity: committed seq == true max per shard
    t = pq.read_table(EVENTS_PARQUET).to_pandas()
    for (stream, shard), seq in cps.items():
        shard_no = int(shard.removeprefix("shardId-"))
        expected = t[t.user_id % 5 == shard_no].event_id.max()
        assert seq == f"{expected:021d}", (shard, seq, expected)

    state = eng.consumer_state().collect()
    assert sum(1 for r in state if r["entity"] == "check_point") == 5
    clients = [r for r in state if r["entity"] == "client"]
    assert len(clients) == 1
    # client-id parity: hostname + random suffix (kinesumer.go:195-204)
    assert clients[0]["client_id"] == eng.client_id
    caches = [r for r in state if r["entity"] == "shard_cache"]
    assert len(caches) == 1
    assert [s["id"] for s in caches[0]["shards"]] == [
        f"shardId-{i:012d}" for i in range(5)
    ]
    assert all(not s["closed"] for s in caches[0]["shards"])


def test_restart_from_checkpoint_resumes_without_loss(spark, tmp_path):
    """Process half the files, stop, add the rest, restart with the same
    checkpoint — every record delivered exactly once across the restart."""
    t = pq.read_table(EVENTS_PARQUET)
    d = tmp_path / "in"
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "a.parquet")

    seen: list = []
    eng = Engine(spark, app="t-recover", checkpoint_root=str(tmp_path / "ck"))
    q = eng.run(eng.consume([StreamSource("events", str(d))]), _collecting_sink(seen))
    q.processAllAvailable()
    eng.close()
    assert sum(len(rows) for _, rows in seen) == half

    pq.write_table(t.slice(half), d / "b.parquet")
    eng2 = Engine(spark, app="t-recover", checkpoint_root=str(tmp_path / "ck"))
    q2 = eng2.run(
        eng2.consume([StreamSource("events", str(d))]), _collecting_sink(seen)
    )
    q2.processAllAvailable()
    eng2.close()

    delivered = [r["sequence_number"] for _, rows in seen for r in rows]
    assert len(delivered) == t.num_rows  # no replay of file a
    assert len(set(delivered)) == t.num_rows  # no loss, all unique


def test_multi_stream_union(spark, tmp_path, events_dir):
    path, n_total = events_dir
    eng = Engine(spark, app="t-multi", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s1", path), StreamSource("s2", path)]
    )
    seen: list = []
    q = eng.run(records, _collecting_sink(seen))
    q.processAllAvailable()
    eng.close()
    per_stream: dict[str, int] = {}
    for _, rows in seen:
        for r in rows:
            per_stream[r["stream"]] = per_stream.get(r["stream"], 0) + 1
    assert per_stream == {"s1": n_total, "s2": n_total}
    assert set(eng.checkpoints()) == {
        (s, f"shardId-{i:012d}") for s in ("s1", "s2") for i in range(5)
    }


def test_empty_app_name_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        Engine(spark, app="", checkpoint_root=str(tmp_path))


def test_error_side_channel(spark, tmp_path, events_dir):
    path, _ = events_dir
    eng = Engine(spark, app="t-errors", checkpoint_root=str(tmp_path / "ck"))

    def bad_sink(df, bid):
        raise RuntimeError("sink exploded")

    q = eng.run(eng.consume([StreamSource("events", path)]), bad_sink)
    with pytest.raises(Exception):
        q.processAllAvailable()
    eng.close()
    errs = eng.errors()
    assert errs and "sink exploded" in errs[0]


def test_manual_commit_mode(spark, tmp_path, events_dir):
    """commit.auto=False → nothing in the ledger unless the sink commits
    (CommitConfig parity, kinesumer.go:77-95)."""
    path, _ = events_dir
    eng = Engine(
        spark,
        app="t-manual",
        checkpoint_root=str(tmp_path / "ck"),
        commit=CommitConfig(auto=False),
    )
    q = eng.run(eng.consume([StreamSource("events", path)]), lambda df, bid: None)
    q.processAllAvailable()
    eng.close()
    assert eng.checkpoints() == {}

    eng2 = Engine(
        spark,
        app="t-manual2",
        checkpoint_root=str(tmp_path / "ck"),
        commit=CommitConfig(auto=False),
    )

    def committing_sink(df, bid):
        eng2.commit(df, bid)

    q2 = eng2.run(eng2.consume([StreamSource("events", path)]), committing_sink)
    q2.processAllAvailable()
    eng2.close()
    assert len(eng2.checkpoints()) == 5


def test_refresh_swaps_stream_set(spark, tmp_path, events_dir):
    """O18 Refresh parity (kinesumer.go:817-831): stop the running query,
    swap the subscribed stream set, restart — records flow from the new
    set and checkpoints accumulate for both generations."""
    path, n_total = events_dir
    eng = Engine(spark, app="t-refresh", checkpoint_root=str(tmp_path / "ck"))
    seen: list = []
    q = eng.run(
        eng.consume([StreamSource("gen1", path)]), _collecting_sink(seen)
    )
    q.processAllAvailable()
    n_gen1 = sum(len(rows) for _, rows in seen)
    assert n_gen1 == n_total

    records2 = eng.refresh([StreamSource("gen2", path)])
    q2 = eng.run(records2, _collecting_sink(seen), query_name="consume2")
    q2.processAllAvailable()
    eng.close()

    streams_seen = {r["stream"] for _, rows in seen for r in rows}
    assert streams_seen == {"gen1", "gen2"}
    cps = eng.checkpoints()
    assert {s for s, _ in cps} == {"gen1", "gen2"}


def test_ordered_per_shard_processing(spark, tmp_path, events_dir):
    """run_ordered hands each shard's records to the callback sorted by
    sequence_number — the reference's ordered per-shard feed (O1)."""
    path, _ = events_dir
    eng = Engine(spark, app="t-ordered", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=2)])

    def check_sorted(pdf):
        import pandas as pd

        seqs = list(pdf["sequence_number"])
        return pd.DataFrame(
            {
                "shard_id": [pdf["shard_id"].iloc[0]],
                "n": [len(pdf)],
                "is_sorted": [seqs == sorted(seqs)],
                "first_seq": [seqs[0]],
                "last_seq": [seqs[-1]],
            }
        )

    results: list = []

    def sink(df, bid):
        results.extend(df.collect())

    q = eng.run_ordered(
        records, check_sorted, "shard_id string, n long, is_sorted boolean, "
        "first_seq string, last_seq string", sink
    )
    q.processAllAvailable()
    eng.close()

    assert results
    assert all(r["is_sorted"] for r in results)
    assert all(r["first_seq"] <= r["last_seq"] for r in results)
    assert {r["shard_id"] for r in results} == {
        f"shardId-{i:012d}" for i in range(5)
    }


def test_progress_listener(spark, tmp_path, events_dir):
    """O20 listener-bus parity: per-microbatch progress rows captured
    without blocking the query."""
    path, n_total = events_dir
    eng = Engine(spark, app="t-progress", checkpoint_root=str(tmp_path / "ck"))
    q = eng.run(
        eng.consume([StreamSource("events", path, max_files_per_trigger=2)]),
        lambda df, bid: None,
        query_name="t_progress_q",
    )
    q.processAllAvailable()
    eng.close()
    import time

    for _ in range(50):  # listener delivery is async
        mine = [p for p in eng.progress() if p["name"] == "t_progress_q"]
        if sum(p["num_input_rows"] for p in mine) >= n_total:
            break
        time.sleep(0.1)
    assert sum(p["num_input_rows"] for p in mine) == n_total
    assert len(mine) >= 2


def test_mark_validation_parity(spark, tmp_path, events_dir):
    """Table-driven MarkRecord error cases, ported from
    TestKinesumer_MarkRecordFails (kinesumer_test.go:351-413): empty
    sequence number and unknown stream are rejected; valid marks
    accumulate monotonically and commit to the ledger."""
    path, _ = events_dir
    eng = Engine(spark, app="t-mark", checkpoint_root=str(tmp_path / "ck"))
    eng.consume([StreamSource("events", path)])  # subscribe

    with pytest.raises(ValueError, match="sequence number"):
        eng.mark("events", "shardId-000000000000", "")
    with pytest.raises(ValueError, match="invalid stream"):
        eng.mark("nope", "shardId-000000000000", "1".zfill(21))

    eng.mark("events", "shardId-000000000000", "5".zfill(21))
    eng.mark("events", "shardId-000000000000", "3".zfill(21))  # stale, ignored
    eng.mark("events", "shardId-000000000001", "9".zfill(21))
    eng.commit_marks(batch_id=0)
    cps = eng.checkpoints()
    assert cps[("events", "shardId-000000000000")] == "5".zfill(21)
    assert cps[("events", "shardId-000000000001")] == "9".zfill(21)
    # marks survive commit (idempotent re-put, kinesumer.go:767-789)
    eng.commit_marks(batch_id=1)
    assert eng.checkpoints() == cps


def test_at_least_once_replay_after_sink_crash(spark, tmp_path, events_dir):
    """Delivery-semantics parity (SURVEY.md §2.1 'at-least-once'): a sink
    crash mid-query replays the failed batch after restart — records can
    be delivered twice, but an idempotent-by-batch_id sink nets exactly
    once. This is the reference's crash-replay window (BASELINE.md:
    'replay window on crash'), shrunk from ≤5 s of marks to one batch."""
    path, n_total = events_dir
    deliveries: list = []  # (batch_id, n_rows) every attempt, incl. failed
    committed: dict[int, int] = {}  # idempotent by batch_id

    class Crash(Exception):
        pass

    crashed = {"done": False}

    def flaky_sink(batch_df, batch_id):
        n = batch_df.count()
        deliveries.append((batch_id, n))
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise Crash("simulated sink crash on batch 1")
        committed[batch_id] = n  # overwrite = idempotent

    eng = Engine(spark, app="t-alo", checkpoint_root=str(tmp_path / "ck"))
    q = eng.run(
        eng.consume([StreamSource("events", path, max_files_per_trigger=1)]),
        flaky_sink,
    )
    with pytest.raises(Exception):
        q.processAllAvailable()
    eng.close()

    # restart with the SAME checkpoint root → WAL resumes at the failed batch
    eng2 = Engine(spark, app="t-alo", checkpoint_root=str(tmp_path / "ck"))
    q2 = eng2.run(
        eng2.consume([StreamSource("events", path, max_files_per_trigger=1)]),
        flaky_sink,
    )
    q2.processAllAvailable()
    eng2.close()

    attempts_per_batch: dict[int, int] = {}
    for bid, _ in deliveries:
        attempts_per_batch[bid] = attempts_per_batch.get(bid, 0) + 1
    assert attempts_per_batch[1] == 2  # the replayed batch: at-least-once
    assert sum(committed.values()) == n_total  # idempotent sink: net exactly-once
    assert eng.errors()  # the crash surfaced on the first engine's error channel


def test_rate_source_envelope(spark):
    """The rate source standing in for Kinesis (SURVEY.md §2.2 scans
    row): a live unbounded source wrapped into the record envelope with
    synthetic shard/sequence — schema parity and per-shard sequence
    monotonicity over a short real-time run."""
    from pyspark.sql import functions as F

    from kinesumer_spark.streaming.envelope import (
        RECORD_SCHEMA,
        sequence_number_for,
        shard_id_for,
    )

    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", 500).load()
    )
    env = rate.select(
        F.lit("rate").alias("stream"),
        shard_id_for(F.col("value")).alias("shard_id"),
        sequence_number_for(F.col("value")).alias("sequence_number"),
        F.col("value").cast("string").alias("partition_key"),
        F.to_json(F.struct("timestamp", "value")).cast("binary").alias("data"),
        F.col("timestamp").alias("arrival_ts"),
    )
    assert [(f.name, f.dataType) for f in env.schema.fields] == [
        (f.name, f.dataType) for f in RECORD_SCHEMA.fields
    ]
    q = (
        env.writeStream.format("memory")
        .queryName("t_rate_env")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 15
        while time.time() < deadline:
            if spark.sql("select count(*) n from t_rate_env").collect()[0]["n"] >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.sql(
        "select shard_id, sequence_number from t_rate_env"
    ).collect()
    assert len(rows) >= 100
    per_shard: dict[str, list[str]] = {}
    for r in rows:
        per_shard.setdefault(r["shard_id"], []).append(r["sequence_number"])
    assert set(per_shard) <= {f"shardId-{i:012d}" for i in range(5)}
    for seqs in per_shard.values():
        assert sorted(seqs) == sorted(set(seqs))  # unique per shard


def test_available_now_trigger_drains_and_stops(spark, tmp_path, events_dir):
    """AvailableNow (bounded backfill): the query drains every record
    currently in the source — still honoring maxFilesPerTrigger
    batching — commits the ledger, then terminates ON ITS OWN (no
    stop() call): the production catch-up mode for processing a backlog
    without leaving a continuous query running."""
    path, n_total = events_dir
    eng = Engine(spark, app="t-avnow", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=2)])
    seen: list = []
    q = eng.run(records, _collecting_sink(seen), trigger={"availableNow": True})
    q.awaitTermination(120)
    assert not q.isActive, "AvailableNow query must self-terminate"
    delivered = [r for _, rows in seen for r in rows]
    assert len(delivered) == n_total
    assert len(seen) >= 2  # batching preserved under AvailableNow
    # ledger complete: every shard's high-water mark committed
    cps = eng.checkpoints()
    assert len([k for k in cps if k[0] == "events"]) == 5
    eng.close()


def test_consume_starts_on_empty_source_dir(spark, tmp_path):
    """Consumer-before-producer startup (the normal Kinesis order): the
    schema probe has nothing to read on an empty dir, so consume() must
    fall back to the logical envelope schema and still deliver records
    that a producer writes AFTER the query starts."""
    d = tmp_path / "idle_stream"
    d.mkdir()
    eng = Engine(spark, app="t-idle", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", str(d))])  # must not raise
    seen: list = []
    q = eng.run(records, _collecting_sink(seen))
    try:
        t = pq.read_table(EVENTS_PARQUET)
        pq.write_table(t.slice(0, 100), d / "late-arrival.parquet")
        q.processAllAvailable()
    finally:
        eng.close()
    delivered = [r for _, rows in seen for r in rows]
    assert len(delivered) == 100


def test_processing_time_trigger_accepted(spark, tmp_path, events_dir):
    """The processingTime trigger path (the reference's 5 s scan cadence,
    kinesumer.go:26) must wire through Engine.run and deliver normally."""
    path, n_total = events_dir
    eng = Engine(spark, app="t-ptime", checkpoint_root=str(tmp_path / "ck"))
    seen: list = []
    q = eng.run(
        eng.consume([StreamSource("events", path, max_files_per_trigger=None)]),
        _collecting_sink(seen),
        trigger={"processingTime": "1 seconds"},
    )
    q.processAllAvailable()
    eng.close()
    assert sum(len(rows) for _, rows in seen) == n_total


def test_stream_funnel_matches_batch_across_batches(spark, tmp_path):
    """The streaming funnel must equal the batch funnel on an
    ADVERSARIALLY batched stream: a purchase arrives in an early batch,
    the signup that makes it qualify arrives only in a LATER batch with
    an EARLIER event time — the pending-promotion path that a naive
    (signup, conv) two-field state gets wrong. One parquet file per
    microbatch via maxFilesPerTrigger=1."""
    import pandas as pd

    from pyspark.sql import functions as F
    from kinesumer_spark.streaming.stateful import funnel_conversions

    us = 1_000_000
    day = 86_400 * us
    batches = [
        # batch 1: u1 purchase@t5d (no signup yet); u2 signup@1d
        [(1, "purchase", 5 * day), (2, "signup", 1 * day)],
        # batch 2: u1 signup@10d (purchase t5d still pre-signup);
        #          u2 purchase@2d (converts); u3 signup@1d
        [(1, "signup", 10 * day), (2, "purchase", 2 * day), (3, "signup", 1 * day)],
        # batch 3: u1 signup@3d — EARLIER than the stored purchase@5d:
        #          promotion must fire, u1 converts (5d <= 3d + 7d);
        #          u3 purchase@9d — after signup but PAST the 7-day
        #          window (not converted); u4 purchase only (not signed)
        [(1, "signup", 3 * day), (3, "purchase", 9 * day), (4, "purchase", 20 * day)],
    ]
    src = tmp_path / "funnel_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        pd.DataFrame(rows, columns=["user_id", "event_type", "tus"]).to_parquet(
            src / f"batch_{i}.parquet", index=False
        )
    stream = (
        spark.readStream.schema("user_id bigint, event_type string, tus bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        funnel_conversions(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_funnel_adv")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    emitted = spark.table("t_funnel_adv")
    final = {
        r["user_id"]: (r["signup_us"], r["conv_us"])
        for r in emitted.groupBy("user_id")
        .agg(
            F.max_by("signup_us", "n_seen").alias("signup_us"),
            F.max_by("conv_us", "n_seen").alias("conv_us"),
        )
        .collect()
    }
    # batch semantics, hand-computed:
    assert final[1] == (3 * day, 5 * day)   # promoted pending purchase
    assert final[2] == (1 * day, 2 * day)   # plain conversion
    assert final[3] == (1 * day, 9 * day)   # conv_us set; 7-day window
    #                                         filtering happens downstream
    assert final[4] == (-1, -1)             # purchase-only user
    # ≥2 emissions for u1 proves the state actually spanned batches
    assert emitted.filter("user_id = 1").count() >= 2


def test_incremental_rollup_across_microbatches(spark, tmp_path):
    """The maintained rollup must equal the direct batch aggregate when
    the input arrives as MULTIPLE micro-batches (maxFilesPerTrigger=1
    over a 3-file split) — the merge must add partials across batches,
    never lose or double-count a generation."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kinesumer_spark.functions.exact import dec
    from kinesumer_spark.streaming.queries import incremental_hourly_rollup

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        # hour 0 spread over all three files; hour 1 in two; hour 2 in one
        (i, t0 + dt.timedelta(minutes=7 * i), 1, "view", float(i), "{}")
        for i in range(30)
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    for part in range(3):  # 3 separate files -> 3 micro-batches
        df.filter(F.col("event_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = incremental_hourly_rollup(
        spark, stream, str(tmp_path / "mv")
    ).collect()
    expect = (
        df.select(
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour_str"),
            "value",
        )
        .groupBy("hour_str")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("value_sum"),
        )
        .orderBy("hour_str")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]
    assert len(got) >= 3  # the synthetic spread really covers >= 3 hours
    # the merge path must actually have run: 3 files at
    # maxFilesPerTrigger=1 -> 3 generations, not one big batch
    import os

    gens = [d for d in os.listdir(tmp_path / "mv") if d.startswith("gen=")]
    assert len(gens) == 3, gens


def test_scd2_apply_across_microbatches(spark, tmp_path):
    """CDC apply over 3 in-order micro-batches must equal the batch SCD2
    builder on the full log — including the cross-batch COLLAPSE case (a
    priority continuing unchanged into the next batch must NOT open a
    new version) and the cross-batch CLOSE case (a change in batch N
    closes the version opened in batch N-1)."""
    import datetime as dt
    import os
    import time

    from kinesumer_spark.operators.warehouse import scd2_customer_priority
    from kinesumer_spark.streaming.queries import incremental_scd2_apply

    d0 = dt.datetime(2024, 1, 1)

    def day(i):
        return d0 + dt.timedelta(days=i)

    # (o_orderkey, o_custkey, o_orderdate, o_orderpriority)
    batches = [
        [  # batch 0
            (1, 1, day(0), "LOW"),
            (2, 1, day(1), "LOW"),      # collapse within batch
            (3, 2, day(0), "HIGH"),
        ],
        [  # batch 1
            (4, 1, day(2), "LOW"),      # collapse ACROSS batches
            (5, 2, day(3), "LOW"),      # close cust 2's HIGH, open LOW
            (6, 3, day(3), "MED"),      # brand-new customer mid-stream
        ],
        [  # batch 2
            (7, 1, day(4), "HIGH"),     # close cust 1's LOW after 2 batches
            (8, 3, day(5), "MED"),      # collapse across batches again
        ],
    ]
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp, "
        "o_orderpriority string"
    )
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    all_rows = []
    for i, rows in enumerate(batches):
        # single FLAT file per batch (the file source does not recurse
        # into write.parquet output dirs) with strictly ascending mtimes
        # so arrival order == event-time order (the CDC contract)
        tbl = spark.createDataFrame(rows, schema).toPandas()
        # µs precision: pandas defaults to ns, which parquet stores as
        # INT64 TIMESTAMP(NANOS) — unreadable under the declared
        # `timestamp` stream schema
        tbl["o_orderdate"] = tbl["o_orderdate"].astype("datetime64[us]")
        f = f"{stream_dir}/batch{i}.parquet"
        tbl.to_parquet(f, index=False)
        t = time.time() + i
        os.utime(f, (t, t))
        all_rows += rows
    batch_dir = str(tmp_path / "batch")
    os.makedirs(batch_dir)
    spark.createDataFrame(all_rows, schema).coalesce(1).write.parquet(
        batch_dir + "/orders.parquet"
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    got = incremental_scd2_apply(
        spark, stream, str(tmp_path / "dim")
    ).collect()
    expect = scd2_customer_priority(spark, batch_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]
    # the interesting shape really happened: cust 1 has LOW->HIGH (2
    # versions, not 3 - the cross-batch collapse), cust 2 HIGH->LOW,
    # cust 3 a single MED version
    per_cust = {}
    for r in got:
        per_cust.setdefault(r["o_custkey"], []).append(r["priority"])
    assert per_cust == {1: ["LOW", "HIGH"], 2: ["HIGH", "LOW"], 3: ["MED"]}
    gens = [d for d in os.listdir(tmp_path / "dim") if d.startswith("gen=")]
    assert len(gens) == 3, gens


def test_transform_with_state_capability_gate(spark):
    """stream_transform_with_state registers only where the `protobuf`
    package exists (the Spark 4 transformWithState state server speaks
    proto to the JVM). Where present the query must pass its oracle;
    where absent it must be cleanly excluded — never a half-registered
    query the driver would redden on (the multimodal codec-gate
    pattern)."""
    from kinesumer_spark.registry import all_queries
    from kinesumer_spark.streaming.queries import tws_supported
    from kinesumer_spark.streaming.stateful import UserTotalsProcessor

    UserTotalsProcessor()  # the operator code itself is always importable
    if tws_supported():
        from kinesumer_spark.oracle import check_query

        assert "stream_transform_with_state" in all_queries()
        assert not check_query(spark, "stream_transform_with_state", SF_SMALL)
    else:
        assert "stream_transform_with_state" not in all_queries()


def _raw_events_file(path, event_ids, user_id):
    """A raw events parquet file whose envelope lands every row on
    user_id's shard (shard = user_id mod 5) with seq = padded event_id."""
    import datetime as dt

    import pandas as pd

    pd.DataFrame(
        {
            "event_id": list(event_ids),
            "ts": [
                dt.datetime(2024, 1, 1, 0, 0, i % 60) for i in range(len(event_ids))
            ],
            "user_id": [user_id] * len(event_ids),
            "event_type": ["click"] * len(event_ids),
            "value": [1.0] * len(event_ids),
            "props": ["{}"] * len(event_ids),
        }
    ).to_parquet(path)


def test_reshard_children_deferred_until_parent_complete(spark, tmp_path):
    """ShardLineage admission: even when the CHILD shard's file arrives
    (and is listed) first, no child row reaches the sink before every
    parent row is committed through parent_end — the ordering guarantee
    the reference leaves as TODO(mingrammer) (kinesumer.go:314)."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    # child (user 2 → shardId-…002) written FIRST with the oldest mtime,
    # so the file source admits it before any parent file
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    _raw_events_file(d / "part-1-parent.parquet", range(1, 6), user_id=1)
    _raw_events_file(d / "part-2-parent.parquet", range(6, 11), user_id=1)
    base = 1_700_000_000
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(d / f, (base + i * 60, base + i * 60))

    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    lineage = [
        ShardLineage(
            stream="s",
            child=child,
            parent=parent,
            parent_end=str(10).zfill(21),
        )
    ]
    eng = Engine(spark, app="t-reshard", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)], lineage=lineage
    )
    seen: list = []
    q = eng.run(records, _collecting_sink(seen))
    q.processAllAvailable()
    eng.close()

    flat = [(bid, r) for bid, rows in seen for r in rows]
    parent_bids = [bid for bid, r in flat if r["shard_id"] == parent]
    child_bids = [bid for bid, r in flat if r["shard_id"] == child]
    assert parent_bids and child_bids, flat
    # every parent row delivered strictly before any child row
    assert max(parent_bids) < min(child_bids)
    # nothing lost (at-least-once: dedup by seq before comparing)
    assert {r["sequence_number"] for _, r in flat if r["shard_id"] == parent} == {
        str(i).zfill(21) for i in range(1, 11)
    }
    assert {r["sequence_number"] for _, r in flat if r["shard_id"] == child} == {
        str(i).zfill(21) for i in range(11, 21)
    }
    # ledger: child high-water never advanced before parent closed; final
    # state has both shards at their ends
    cps = eng.checkpoints()
    assert cps[("s", parent)] == str(10).zfill(21)
    assert cps[("s", child)] == str(20).zfill(21)


def test_reshard_parent_marked_closed_in_consumer_state(spark, tmp_path):
    """O3 parity: once a lineage parent is committed through parent_end,
    the shard_cache row shows it CLOSED (the state O3's enumeration
    filter drops); the child stays open."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    _raw_events_file(d / "p.parquet", range(1, 6), user_id=1)
    _raw_events_file(d / "c.parquet", range(6, 11), user_id=2)
    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    eng = Engine(spark, app="t-closed", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=2)],
        lineage=[
            ShardLineage(
                stream="s", child=child, parent=parent, parent_end=str(5).zfill(21)
            )
        ],
    )
    q = eng.run(records, lambda df, bid: None)
    q.processAllAvailable()
    eng.close()

    cache = {
        s["id"]: s["closed"]
        for row in eng.consumer_state().filter("entity = 'shard_cache'").collect()
        for s in row["shards"]
    }
    assert cache[parent] is True
    assert cache[child] is False


def test_lag_reports_pending_records(spark, tmp_path, events_dir):
    """Engine.lag(): after a full drain every shard shows pending 0 and
    latest == committed; after a producer writes more data, the new
    rows show up as pending with an advanced latest_seq."""
    path, n_total = events_dir
    eng = Engine(spark, app="t-lag", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=4)])
    q = eng.run(records, lambda df, bid: None)
    q.processAllAvailable()
    eng.close()

    drained = eng.lag().collect()
    assert len(drained) == 5
    assert all(r["pending_records"] == 0 for r in drained), drained
    assert all(r["latest_seq"] == r["committed_seq"] for r in drained)

    # producer writes 6 more records for user 1 (shard …001) after close
    _raw_events_file(
        os.path.join(path, "late.parquet"), range(10_000_000, 10_000_006), user_id=1
    )
    lag = {r["shard_id"]: r for r in eng.lag().collect()}
    shard1 = "shardId-" + "1".rjust(12, "0")
    assert lag[shard1]["pending_records"] == 6
    assert lag[shard1]["latest_seq"] == str(10_000_005).zfill(21)
    assert sum(r["pending_records"] for r in lag.values()) == 6


def test_replay_from_returns_uncommitted_tail(spark, tmp_path, events_dir):
    """Engine.replay_from: after a full drain the replay is empty;
    records a producer appends later come back exactly, in the envelope
    schema; explicit marks replay from that point instead."""
    path, n_total = events_dir
    eng = Engine(spark, app="t-replay", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=4)])
    q = eng.run(records, lambda df, bid: None)
    q.processAllAvailable()
    eng.close()

    assert eng.replay_from().count() == 0

    _raw_events_file(
        os.path.join(path, "late.parquet"), range(20_000_000, 20_000_004), user_id=3
    )
    tail = eng.replay_from()
    assert [f.name for f in tail.schema.fields] == [
        f.name for f in RECORD_SCHEMA.fields
    ]
    rows = tail.collect()
    assert {r["sequence_number"] for r in rows} == {
        str(i).zfill(21) for i in range(20_000_000, 20_000_004)
    }

    # explicit marks: replay everything after one specific sequence
    shard3 = "shardId-" + "3".rjust(12, "0")
    marked = eng.replay_from({("events", shard3): str(20_000_001).zfill(21)})
    seqs3 = {
        r["sequence_number"]
        for r in marked.filter(f"shard_id = '{shard3}'").collect()
    }
    assert {str(20_000_002).zfill(21), str(20_000_003).zfill(21)} <= seqs3
    assert str(20_000_001).zfill(21) not in seqs3


def test_run_ordered_composes_with_reshard_lineage(spark, tmp_path):
    """The two delivery guarantees compose: with a lineage manifest AND
    run_ordered, every per-shard handler invocation sees its rows in
    sequence order, and no child-shard invocation happens until the
    parent is fully delivered."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    _raw_events_file(d / "part-1-parent.parquet", range(1, 11), user_id=1)
    base = 1_700_000_000
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(d / f, (base + i * 60, base + i * 60))

    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    eng = Engine(spark, app="t-ordered-reshard", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)],
        lineage=[
            ShardLineage(
                stream="s", child=child, parent=parent,
                parent_end=str(10).zfill(21),
            )
        ],
    )

    def fn(pdf):
        seqs = list(pdf["sequence_number"])
        assert seqs == sorted(seqs), "handler saw unsorted rows"
        return pdf[["stream", "shard_id", "sequence_number"]]

    seen: list = []
    q = eng.run_ordered(
        records,
        fn,
        "stream string, shard_id string, sequence_number string",
        _collecting_sink(seen),
    )
    q.processAllAvailable()
    eng.close()

    flat = [(bid, r) for bid, rows in seen for r in rows]
    parent_bids = [bid for bid, r in flat if r["shard_id"] == parent]
    child_bids = [bid for bid, r in flat if r["shard_id"] == child]
    assert parent_bids and child_bids
    assert max(parent_bids) < min(child_bids)
    assert {r["sequence_number"] for _, r in flat} == {
        str(i).zfill(21) for i in range(1, 21)
    }


def test_sink_error_dlq_mode_keeps_stream_alive(spark, tmp_path, events_dir):
    """CommitConfig(on_sink_error='dlq'): a sink that raises on one
    batch routes that WHOLE batch to the sink-DLQ parquet and the query
    keeps running — every other batch delivers, the ledger still
    advances, the error is on the side channel, and delivered + DLQ ==
    everything."""
    path, n_total = events_dir
    eng = Engine(
        spark,
        app="t-sink-dlq",
        checkpoint_root=str(tmp_path / "ck"),
        commit=CommitConfig(auto=True, on_sink_error="dlq"),
    )
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=1)])

    delivered: list = []

    def flaky_sink(batch_df, batch_id):
        rows = batch_df.select("stream", "shard_id", "sequence_number").collect()
        if batch_id == 1:
            raise RuntimeError("poison batch")
        delivered.extend(rows)

    q = eng.run(records, flaky_sink)
    q.processAllAvailable()
    eng.close()

    import pyspark.sql.functions as F  # noqa: F401

    dlq = spark.read.parquet(
        str(tmp_path / "ck" / "t-sink-dlq" / "sink_dlq")
    )
    n_dlq = dlq.count()
    assert n_dlq > 0
    assert len(delivered) + n_dlq == n_total
    assert any("routed to DLQ" in e for e in eng.errors())
    # no overlap between delivered and DLQ'd sequences
    dlq_seqs = {r["sequence_number"] for r in dlq.collect()}
    assert dlq_seqs.isdisjoint({r["sequence_number"] for r in delivered})


def test_sink_error_fail_mode_is_default(spark, tmp_path, events_dir):
    """Default on_sink_error='fail' keeps the reference's fail-fast
    contract: the streaming query surfaces the sink exception."""
    path, _ = events_dir
    eng = Engine(spark, app="t-sink-fail", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=2)])

    def bad_sink(batch_df, batch_id):
        raise RuntimeError("boom")

    q = eng.run(records, bad_sink)
    import pytest as _pytest

    with _pytest.raises(Exception):
        q.processAllAvailable()
    eng.close()
    assert any("boom" in e for e in eng.errors())


def test_reshard_deferred_rows_survive_engine_restart(spark, tmp_path):
    """Durability of the reshard gate: stop the engine while child rows
    sit in the deferred area (parent not yet complete), start a FRESH
    engine generation over the same checkpoint_root — the child rows
    must still be delivered exactly after the parent completes, from
    the durable deferred parquet (no driver state carried over)."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    lineage = [
        ShardLineage(
            stream="s", child=child, parent=parent, parent_end=str(10).zfill(21)
        )
    ]
    # phase 1: ONLY child data exists → everything defers, parent never
    # completes, engine stops with rows parked durably
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    eng1 = Engine(spark, app="t-reshard-restart", checkpoint_root=str(tmp_path / "ck"))
    rec1 = eng1.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)], lineage=lineage
    )
    seen1: list = []
    q1 = eng1.run(rec1, _collecting_sink(seen1), trigger={"availableNow": True})
    q1.awaitTermination(120)
    eng1.close()
    assert not any(r["shard_id"] == child for _, rows in seen1 for r in rows)

    # phase 2: parent data arrives; a NEW engine generation (fresh WAL,
    # same app root) consumes source + durable deferred area
    _raw_events_file(d / "part-1-parent.parquet", range(1, 11), user_id=1)
    eng2 = Engine(spark, app="t-reshard-restart", checkpoint_root=str(tmp_path / "ck"))
    eng2._generation = 1  # fresh WAL, same ledger/deferred dirs
    rec2 = eng2.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)], lineage=lineage
    )
    seen2: list = []
    q2 = eng2.run(rec2, _collecting_sink(seen2))
    q2.processAllAvailable()
    eng2.close()

    flat2 = [(bid, r) for bid, rows in seen2 for r in rows]
    parent_bids = [bid for bid, r in flat2 if r["shard_id"] == parent]
    child_bids = [bid for bid, r in flat2 if r["shard_id"] == child]
    assert parent_bids and child_bids
    assert max(parent_bids) < min(child_bids)
    assert {r["sequence_number"] for _, r in flat2 if r["shard_id"] == child} == {
        str(i).zfill(21) for i in range(11, 21)
    }


def test_compact_ledger_preserves_checkpoints(spark, tmp_path, events_dir):
    """compact_ledger: after compaction the ledger is one snapshot file
    and checkpoints() is unchanged; subsequent commits still win over
    the snapshot (sort order)."""
    path, _ = events_dir
    eng = Engine(spark, app="t-compact", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", path, max_files_per_trigger=1)])
    q = eng.run(records, lambda df, bid: None)
    q.processAllAvailable()
    eng.close()

    before = eng.checkpoints()
    ledger = tmp_path / "ck" / "t-compact" / "ledger"
    n_before = len(list(ledger.glob("*.json")))
    assert n_before >= 4  # one commit per microbatch
    removed = eng.compact_ledger()
    assert removed == n_before  # snapshot replaces every batch file
    assert len(list(ledger.glob("*.json"))) == 1
    assert eng.checkpoints() == before

    # a later manual commit supersedes the snapshot
    eng.mark("events", "shardId-" + "1".rjust(12, "0"), str(10**9).zfill(21))
    eng.commit_marks(batch_id=999)
    after = eng.checkpoints()
    assert after[("events", "shardId-" + "1".rjust(12, "0"))] == str(10**9).zfill(21)


def test_consume_from_python_stream_source(spark, tmp_path):
    """Source-agnosticism: the Engine consumes the CUSTOM Python
    streaming source (offset-tracked, scanLimit-paced — O1 as a real
    source) through the same run/commit path as file streams: all
    records delivered across multiple paced batches, ledger high-water
    at each shard's end."""
    from kinesumer_spark.sources.python_source import register_sim_stream_source

    register_sim_stream_source(spark)
    eng = Engine(spark, app="t-pysource", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [
            StreamSource(
                "sim",
                format="kinesumer_sim_stream",
                options={
                    "numShards": "3",
                    "totalPerShard": "40",
                    "scanLimit": "15",
                },
            )
        ]
    )
    assert [f.name for f in records.schema.fields] == [
        f.name for f in RECORD_SCHEMA.fields
    ]
    seen: list = []
    q = eng.run(records, _collecting_sink(seen))
    q.processAllAvailable()
    eng.close()

    flat = [r for _, rows in seen for r in rows]
    assert len(flat) == 3 * 40
    assert len(seen) >= 3  # scanLimit pacing forced multiple batches
    cps = eng.checkpoints()
    assert cps[("sim", "shardId-" + "0".rjust(12, "0"))] == str(39).zfill(21)
    assert cps[("sim", "shardId-" + "2".rjust(12, "0"))] == str(119).zfill(21)


def test_reshard_late_child_rows_stay_ordered_after_gate_opens(spark, tmp_path):
    """The r6 advisory's ordering hole: child rows arriving AFTER the
    gate opens must not overtake the previously deferred backlog. The
    gate now flushes the entire backlog the moment it opens (one batch,
    deduped), so for the child shard, sequence ranges across batches
    must be non-overlapping and increasing — and the committed mark must
    never regress across ledger files."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    # mtime order: child-early (deferred), parent (opens gate on its
    # second file), child-late (arrives after the gate is open)
    _raw_events_file(d / "part-0-child-early.parquet", range(11, 16), user_id=2)
    _raw_events_file(d / "part-1-parent-a.parquet", range(1, 6), user_id=1)
    _raw_events_file(d / "part-2-parent-b.parquet", range(6, 11), user_id=1)
    _raw_events_file(d / "part-3-child-late.parquet", range(16, 21), user_id=2)
    base = 1_700_000_000
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(d / f, (base + i * 60, base + i * 60))

    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    eng = Engine(spark, app="t-late-child", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)],
        lineage=[
            ShardLineage(
                stream="s", child=child, parent=parent, parent_end=str(10).zfill(21)
            )
        ],
    )
    seen: list = []
    q = eng.run(records, _collecting_sink(seen))
    q.processAllAvailable()
    eng.close()

    # per-batch child sequence ranges must be strictly increasing: no
    # deferred (older) row may be delivered in a later batch than any
    # newer main-source row
    child_by_batch = [
        (bid, sorted(r["sequence_number"] for r in rows if r["shard_id"] == child))
        for bid, rows in seen
        if any(r["shard_id"] == child for r in rows)
    ]
    assert child_by_batch, seen
    for (b1, seqs1), (b2, seqs2) in zip(child_by_batch, child_by_batch[1:]):
        assert b1 < b2
        assert max(seqs1) < min(seqs2), (
            f"child rows out of order across batches: {child_by_batch}"
        )
    # nothing lost
    delivered_child = {
        r["sequence_number"] for _, rows in seen for r in rows
        if r["shard_id"] == child
    }
    assert delivered_child == {str(i).zfill(21) for i in range(11, 21)}
    # ledger: child committed marks never regress in file (replay) order
    ledger = eng._ledger_dir()
    child_marks = []
    for fn in sorted(os.listdir(ledger)):
        if not fn.endswith(".json"):
            continue
        import json as _json

        with open(os.path.join(ledger, fn)) as f:
            doc = _json.load(f)
        for cp in doc["checkpoints"]:
            if cp["shard_id"] == child:
                child_marks.append(cp["sequence_number"])
    assert child_marks == sorted(child_marks), child_marks
    assert eng.checkpoints()[("s", child)] == str(20).zfill(21)


def test_commit_is_monotonic_against_ledger(spark, tmp_path):
    """A crash-replayed batch carrying OLDER rows must not regress the
    committed high-water: commit() max-merges against the ledger."""
    eng = Engine(spark, app="t-mono", checkpoint_root=str(tmp_path / "ck"))
    eng._streams = {"s": StreamSource("s", "unused")}
    shard = "shardId-" + "1".rjust(12, "0")

    def batch(seqs):
        return spark.createDataFrame(
            [("s", shard, str(i).zfill(21), None, None, None) for i in seqs],
            RECORD_SCHEMA,
        )

    eng.commit(batch([5, 9]), batch_id=0)
    assert eng.checkpoints()[("s", shard)] == str(9).zfill(21)
    # replayed older batch lands in a LATER file; mark must hold at 9
    eng.commit(batch([3, 4]), batch_id=1)
    assert eng.checkpoints()[("s", shard)] == str(9).zfill(21)
    # unpadded decimal ordering: '10' beats '9' via (length, lex)
    eng.commit(batch([12]), batch_id=2)
    assert eng.checkpoints()[("s", shard)] == str(12).zfill(21)


def test_lag_and_replay_surface_non_file_sources(spark, tmp_path):
    """Non-file streams are no longer silently dropped: lag() emits an
    explicit marker row; replay_from() raises unless told to skip."""
    from kinesumer_spark.sources.python_source import register_sim_stream_source

    register_sim_stream_source(spark)
    eng = Engine(spark, app="t-nonfile", checkpoint_root=str(tmp_path / "ck"))
    eng.consume(
        [
            StreamSource(
                "sim",
                format="kinesumer_sim_stream",
                options={"numShards": "1", "totalPerShard": "5", "scanLimit": "5"},
            )
        ]
    )
    lag = eng.lag().collect()
    assert len(lag) == 1
    assert lag[0]["stream"] == "sim"
    assert "non-file source" in lag[0]["shard_id"]
    assert lag[0]["pending_records"] is None

    with pytest.raises(NotImplementedError, match="sim"):
        eng.replay_from()
    assert eng.replay_from(skip_non_file=True).count() == 0
    eng.close()


def test_generic_envelope_arrival_ts_column_and_huge_sequences(spark):
    """_generic_to_envelope: a source-supplied arrival_ts column is
    passed through (not derived), and without one a >bigint sequence
    number falls back to current_timestamp instead of throwing under
    ANSI mode (the r6 advisory's overflow)."""
    import datetime as dt

    from kinesumer_spark.streaming.engine import _generic_to_envelope

    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    with_ts = spark.createDataFrame(
        [("sh-0", "1" * 56, "k", 7, ts)],
        "shard_id string, sequence_number string, partition_key string, "
        "v int, arrival_ts timestamp",
    )
    row = _generic_to_envelope(with_ts, stream="s").collect()[0]
    assert row["arrival_ts"] == ts
    assert b'"v":7' in bytes(row["data"])  # arrival_ts not in payload

    without_ts = spark.createDataFrame(
        [("sh-0", "1" * 56, "k", 7), ("sh-0", "123456", "k", 8)],
        "shard_id string, sequence_number string, partition_key string, v int",
    )
    rows = {
        r["sequence_number"]: r
        for r in _generic_to_envelope(without_ts, stream="s").collect()
    }
    assert rows["1" * 56]["arrival_ts"] is not None  # fallback, no throw
    assert rows["123456"]["arrival_ts"] == dt.datetime.utcfromtimestamp(0.123456)


def test_ledger_crash_at_every_step(spark, tmp_path, monkeypatch):
    """Crash-table property for the offset ledger, mirroring the
    reference's commit-failure tests (kinesumer_test.go:466-551): a
    crash at ANY interruption point of commit_marks or compact_ledger
    must leave checkpoints() either at the old state or the complete
    new state — never torn, never regressed.

    Interruption points exercised:
    - torn .tmp at every byte offset (commit writes tmp → fsync →
      rename; a partial tmp must be invisible to checkpoints())
    - crash before the snapshot rename in compact_ledger
    - crash after the snapshot, before each of the K old-file deletes
    """
    import json as _json

    import kinesumer_spark.streaming.engine as eng_mod

    shard = "shardId-" + "1".rjust(12, "0")

    def fresh_engine(name):
        e = Engine(spark, app=name, checkpoint_root=str(tmp_path / name))
        for b in range(4):
            e.mark("s", shard, str(b + 1).zfill(21))
            e.mark("s", f"{shard}x", str((b + 1) * 10).zfill(21))
            e.commit_marks(b)
        return e

    base = fresh_engine("crash-base")
    want = base.checkpoints()
    assert want[("s", shard)] == str(4).zfill(21)

    # 1) torn tmp at every byte offset: simulate the write dying after b
    # bytes — the partial .tmp must never influence checkpoints()
    eng = fresh_engine("crash-torn")
    full = _json.dumps(
        {"app": eng.app, "batch_id": 9, "checkpoints": [
            {"stream": "s", "shard_id": shard, "sequence_number": "9" * 21}
        ]}
    )
    for b in range(len(full)):
        torn = os.path.join(
            eng._ledger_dir(), f"batch-000000-{9:020d}.json.tmp"
        )
        with open(torn, "w") as f:
            f.write(full[:b])
        assert eng.checkpoints() == want, f"torn tmp at byte {b} leaked"
        os.remove(torn)

    # 2) crash before the snapshot rename: patch os.replace to die
    eng2 = fresh_engine("crash-replace")
    real_replace = os.replace

    def dying_replace(src, dst):
        raise OSError("simulated crash before rename")

    monkeypatch.setattr(eng_mod.os, "replace", dying_replace)
    with pytest.raises(OSError):
        eng2.compact_ledger()
    monkeypatch.setattr(eng_mod.os, "replace", real_replace)
    assert eng2.checkpoints() == want
    # and the engine still commits fine afterwards (tmp leftovers inert)
    eng2.mark("s", shard, str(5).zfill(21))
    eng2.commit_marks(4)
    assert eng2.checkpoints()[("s", shard)] == str(5).zfill(21)

    # 3) crash after the snapshot, before each delete i = 0..K-1
    n_files = 4
    for die_at in range(n_files):
        e = fresh_engine(f"crash-del-{die_at}")
        want_e = e.checkpoints()
        calls = {"n": 0}
        real_remove = os.remove

        def dying_remove(p, _calls=calls, _die=die_at):
            if _calls["n"] >= _die:
                raise OSError("simulated crash mid-delete")
            _calls["n"] += 1
            real_remove(p)

        monkeypatch.setattr(eng_mod.os, "remove", dying_remove)
        with pytest.raises(OSError):
            e.compact_ledger()
        monkeypatch.setattr(eng_mod.os, "remove", real_remove)
        assert e.checkpoints() == want_e, f"state torn at delete {die_at}"
        # re-running compaction after the crash converges cleanly
        e.compact_ledger()
        assert e.checkpoints() == want_e
        files = [
            fn for fn in os.listdir(e._ledger_dir()) if fn.endswith(".json")
        ]
        assert files == ["a-snapshot.json"]


def _ledger_engine(spark, root, app="t-hw"):
    return Engine(spark, app=app, checkpoint_root=str(root))


def _commit(eng, batch_id, **marks):
    """commit_marks with ``shard=seq`` marks on stream "s"."""
    for shard, seq in marks.items():
        eng.mark("s", shard, str(seq).zfill(21))
    eng.commit_marks(batch_id)


def _z(n):
    return str(n).zfill(21)


def test_ledger_high_water_folds_once(spark, tmp_path, monkeypatch):
    """The ledger is folded lazily, on the first read, and only once:
    this handle's own commits merge into the in-memory high-water
    without reading any ledger file again."""
    import kinesumer_spark.streaming.engine as eng_mod

    folds = {"n": 0}
    real_fold = eng_mod._fold_ledger

    def counting_fold(ledger_dir, names):
        folds["n"] += 1
        return real_fold(ledger_dir, names)

    monkeypatch.setattr(eng_mod, "_fold_ledger", counting_fold)
    seed = _ledger_engine(spark, tmp_path)
    for b in range(5):
        _commit(seed, b, a=b + 1, b=10 * (b + 1))
    folds["n"] = 0
    eng = _ledger_engine(spark, tmp_path)
    assert folds["n"] == 0  # construction reads nothing
    assert eng.checkpoints() == {("s", "a"): _z(5), ("s", "b"): _z(50)}
    assert folds["n"] == 1
    for b in range(5, 10):
        _commit(eng, b, a=b + 1)
        assert eng.checkpoints()[("s", "a")] == _z(b + 1)
    assert folds["n"] == 1


def test_ledger_crash_between_rename_and_map_update(spark, tmp_path, monkeypatch):
    """A commit that dies after its file's rename but before the
    in-memory update must still be visible: the next checkpoints()
    equals the full fold of the ledger (a fresh handle's view)."""
    eng = _ledger_engine(spark, tmp_path)
    _commit(eng, 0, a=3, b=4)
    assert eng.checkpoints() == {("s", "a"): _z(3), ("s", "b"): _z(4)}

    def crash(*_a, **_k):
        raise RuntimeError("simulated crash after os.replace")

    monkeypatch.setattr(eng, "_note_ledger_write", crash)
    with pytest.raises(RuntimeError):
        _commit(eng, 1, a=7)
    monkeypatch.undo()
    full = _ledger_engine(spark, tmp_path).checkpoints()
    assert full == {("s", "a"): _z(7), ("s", "b"): _z(4)}
    assert eng.checkpoints() == full
    # and the handle keeps committing on top of the re-folded map
    _commit(eng, 2, b=9)
    assert eng.checkpoints() == _ledger_engine(spark, tmp_path).checkpoints()
    assert eng.checkpoints()[("s", "b")] == _z(9)


def test_ledger_sees_other_handles_writes_and_compactions(spark, tmp_path):
    """Two handles on one ledger: each sees the other's commits and
    compactions on its next read, including a compaction that folded
    a batch this handle never listed into a snapshot it already knew
    by name (same name set, new file)."""
    a = _ledger_engine(spark, tmp_path)
    b = _ledger_engine(spark, tmp_path)
    _commit(a, 0, x=5)
    assert a.checkpoints() == {("s", "x"): _z(5)}
    # a new file from the other handle
    _commit(b, 1, x=8, y=2)
    assert a.checkpoints() == {("s", "x"): _z(8), ("s", "y"): _z(2)}
    # the other handle overwrites a file name this handle wrote
    _commit(b, 0, y=6)
    assert a.checkpoints()[("s", "y")] == _z(6)
    # compaction from the other handle: marks unchanged, one file left
    assert b.compact_ledger() == 2
    assert a.checkpoints() == {("s", "x"): _z(8), ("s", "y"): _z(6)}
    # the other handle commits and compacts again between two reads:
    # the listing is {a-snapshot.json} both times, but the file is new
    _commit(b, 2, x=11)
    b.compact_ledger()
    assert sorted(os.listdir(a._ledger_dir())) == ["a-snapshot.json"]
    assert a.checkpoints() == {("s", "x"): _z(11), ("s", "y"): _z(6)}
    # and this handle's next commit merges against what it now sees
    _commit(a, 3, y=1)
    assert a.checkpoints() == b.checkpoints() == {
        ("s", "x"): _z(11),
        ("s", "y"): _z(6),
    }


def test_commit_marks_monotone_across_handles(spark, tmp_path):
    """commit_marks never lowers a committed mark, also when the lower
    mark comes from a handle whose staged marks are older, and the
    file it writes carries the high-water, not its stale mark."""
    import json as _json

    a = _ledger_engine(spark, tmp_path)
    b = _ledger_engine(spark, tmp_path)
    _commit(a, 0, x=9)
    b.checkpoints()  # b folds before a moves on
    _commit(a, 1, x=12)
    _commit(b, 2, x=4)
    assert a.checkpoints()[("s", "x")] == b.checkpoints()[("s", "x")] == _z(12)
    with open(os.path.join(b._ledger_dir(), f"batch-000000-{2:020d}.json")) as f:
        doc = _json.load(f)
    assert doc["checkpoints"] == [
        {"stream": "s", "shard_id": "x", "sequence_number": _z(12)}
    ]


def test_batch_marks_single_stage_on_persisted_batch(spark):
    """The auto-commit marks job on a persisted batch aggregates in one
    partition: its executed plan holds no Exchange, and it still picks
    the numerically highest sequence number per shard."""
    rows = [
        ("s", f"sh{i % 3}", str(n), None, None, None)
        for i, n in enumerate([9, 10, 8, 99, 100, 7, 5, 1000])
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), RECORD_SCHEMA
    )
    # the unpersisted batch keeps the distributed two-stage plan
    unpersisted = Engine._batch_marks(df)._jdf.queryExecution().executedPlan()
    assert "Exchange" in unpersisted.toString()
    df.persist()
    try:
        marks = Engine._batch_marks(df)
        got = {(r["stream"], r["shard_id"]): r["sequence_number"] for r in marks.collect()}
        plan = marks._jdf.queryExecution().executedPlan().toString()
    finally:
        df.unpersist()
    assert got == {("s", "sh0"): "99", ("s", "sh1"): "1000", ("s", "sh2"): "8"}
    assert "Exchange" not in plan, plan


def test_merge_reshard_child_waits_for_both_parents(spark, tmp_path):
    """A merge reshard is two lineage edges with the same child: the
    child's gate must stay closed until BOTH parents are committed
    through their ends — one parent completing is not enough — and the
    flush then delivers the full backlog in order."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    p1 = "shardId-" + "1".rjust(12, "0")
    p2 = "shardId-" + "2".rjust(12, "0")
    child = "shardId-" + "3".rjust(12, "0")
    # mtime order: child first, then parent 1, then (much later) parent 2
    _raw_events_file(d / "part-0-child.parquet", range(31, 41), user_id=3)
    _raw_events_file(d / "part-1-parent1.parquet", range(1, 11), user_id=1)
    _raw_events_file(d / "part-2-parent2.parquet", range(11, 21), user_id=2)
    base = 1_700_000_000
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(d / f, (base + i * 60, base + i * 60))

    eng = Engine(spark, app="t-merge-reshard", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)],
        lineage=[
            ShardLineage(stream="s", child=child, parent=p1,
                         parent_end=str(10).zfill(21)),
            ShardLineage(stream="s", child=child, parent=p2,
                         parent_end=str(20).zfill(21)),
        ],
    )
    seen: list = []
    q = eng.run(records, _collecting_sink(seen))
    q.processAllAvailable()
    eng.close()

    flat = [(bid, r) for bid, rows in seen for r in rows]
    bids = {
        shard: [bid for bid, r in flat if r["shard_id"] == shard]
        for shard in (p1, p2, child)
    }
    assert bids[p1] and bids[p2] and bids[child], flat
    # child only after BOTH parents fully delivered
    assert max(bids[p1]) < min(bids[child])
    assert max(bids[p2]) < min(bids[child])
    assert {r["sequence_number"] for _, r in flat if r["shard_id"] == child} == {
        str(i).zfill(21) for i in range(31, 41)
    }
    cps = eng.checkpoints()
    assert cps[("s", child)] == str(40).zfill(21)

    # maintenance: after full delivery every deferred data file is dead
    # and every tick sentinel removable
    data_dir = eng._deferred_data_dir()
    n_data_before = len(
        [e for e in os.listdir(data_dir) if not e.startswith((".", "_"))]
    )
    assert n_data_before > 0  # child rows were deferred durably
    removed = eng.compact_deferred()
    assert removed >= n_data_before
    assert not any(
        not e.startswith((".", "_")) for e in os.listdir(data_dir)
    )


def test_compact_deferred_keeps_undelivered_rows(spark, tmp_path):
    """compact_deferred must NOT remove files whose rows are still ahead
    of the committed marks (an engine stopped mid-block)."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    # only child data: everything defers, parent never completes
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    eng = Engine(spark, app="t-defer-keep", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)],
        lineage=[ShardLineage(stream="s", child=child, parent=parent,
                              parent_end=str(10).zfill(21))],
    )
    q = eng.run(records, lambda df, bid: None, trigger={"availableNow": True})
    q.awaitTermination(120)
    eng.close()

    data_dir = eng._deferred_data_dir()
    data_files = [e for e in os.listdir(data_dir) if not e.startswith((".", "_"))]
    assert data_files  # rows parked
    eng.compact_deferred()
    # live (undelivered) rows survive compaction
    assert [e for e in os.listdir(data_dir) if not e.startswith((".", "_"))] == data_files


def test_reshard_gate_with_transformed_records(spark, tmp_path):
    """The gate's contract is the three key columns, not the full
    envelope: a caller who transforms consume()'s output (extra/derived
    columns) before run() must still get correct deferral AND flush —
    the deferred area stores the caller's schema and the flush reads it
    back with that same schema."""
    from kinesumer_spark.streaming.engine import ShardLineage

    d = tmp_path / "stream"
    d.mkdir()
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    _raw_events_file(d / "part-1-parent.parquet", range(1, 11), user_id=1)
    base = 1_700_000_000
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(d / f, (base + i * 60, base + i * 60))

    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    eng = Engine(spark, app="t-transformed", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)],
        lineage=[
            ShardLineage(stream="s", child=child, parent=parent,
                         parent_end=str(10).zfill(21))
        ],
    )
    import pyspark.sql.functions as SF

    transformed = records.withColumn(
        "seq_len", SF.length("sequence_number")
    ).drop("data")  # user schema: -data, +seq_len

    seen: list = []

    def sink(batch_df, batch_id):
        seen.append(
            (batch_id,
             batch_df.select("shard_id", "sequence_number", "seq_len").collect())
        )

    q = eng.run(transformed, sink)
    q.processAllAvailable()
    eng.close()

    flat = [(bid, r) for bid, rows in seen for r in rows]
    parent_bids = [bid for bid, r in flat if r["shard_id"] == parent]
    child_bids = [bid for bid, r in flat if r["shard_id"] == child]
    assert parent_bids and child_bids
    assert max(parent_bids) < min(child_bids)
    assert {r["sequence_number"] for _, r in flat if r["shard_id"] == child} == {
        str(i).zfill(21) for i in range(11, 21)
    }
    assert all(r["seq_len"] == 21 for _, r in flat)  # derived col survived
    # maintenance works on the user-schema deferred files too
    assert eng.compact_deferred() >= 1


def test_reshard_gate_preserves_explode_fanout(spark, tmp_path):
    """r7 advisory (medium): a caller transform that fans ONE record out
    to SEVERAL rows sharing a sequence_number (explode) must deliver the
    same row multiset whether the rows went through the deferral or not.
    The old flush deduped on (stream, shard_id, sequence_number), which
    silently collapsed deferred fan-out rows; per-batch overwrite
    deferral needs no row dedup, so fan-out now survives."""
    from kinesumer_spark.streaming.engine import ShardLineage

    import pyspark.sql.functions as SF

    d = tmp_path / "stream"
    d.mkdir()
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    _raw_events_file(d / "part-1-parent.parquet", range(1, 11), user_id=1)
    base = 1_700_000_000
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(d / f, (base + i * 60, base + i * 60))

    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    eng = Engine(spark, app="t-fanout", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)],
        lineage=[ShardLineage(stream="s", child=child, parent=parent,
                              parent_end=str(10).zfill(21))],
    )
    fanned = records.withColumn(
        "copy", SF.explode(SF.array(SF.lit(1), SF.lit(2)))
    ).drop("data")

    seen: list = []

    def sink(batch_df, batch_id):
        seen.append(
            batch_df.select("shard_id", "sequence_number", "copy").collect()
        )

    q = eng.run(fanned, sink)
    q.processAllAvailable()
    eng.close()

    flat = [r for rows in seen for r in rows]
    # at-least-once: dedup on the FULL row before comparing
    child_rows = {
        (r["sequence_number"], r["copy"])
        for r in flat
        if r["shard_id"] == child
    }
    # every (seq, copy) pair survived the deferral — no fan-out collapse
    assert child_rows == {
        (str(i).zfill(21), c) for i in range(11, 21) for c in (1, 2)
    }


def test_compact_deferred_rewrites_tick_when_backlog_live(spark, tmp_path):
    """r7 advisory: compact_deferred removes ALL tick sentinels; if live
    deferred rows remain it must write ONE fresh sentinel, otherwise an
    open-but-unflushed gate (whose batches are no longer blocked, so
    never rewrite a tick) strands its backlog until unrelated data
    arrives."""
    from kinesumer_spark.streaming.engine import ShardLineage, _parquet_live_rows

    d = tmp_path / "stream"
    d.mkdir()
    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    # only child data: everything defers, parent never completes
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    eng = Engine(spark, app="t-tick-rewrite", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)],
        lineage=[ShardLineage(stream="s", child=child, parent=parent,
                              parent_end=str(10).zfill(21))],
    )
    q = eng.run(records, lambda df, bid: None, trigger={"availableNow": True})
    q.awaitTermination(120)
    eng.close()

    assert _parquet_live_rows(eng._deferred_data_dir()) > 0  # backlog parked
    eng.compact_deferred()
    tick_files = [
        e for e in os.listdir(eng._deferred_tick_dir())
        if not e.startswith((".", "_"))
    ]
    assert tick_files, "live backlog but no wakeup sentinel after compaction"


def test_reshard_flush_rejects_foreign_schema_backlog(spark, tmp_path):
    """r7 advisory: deferred rows persisted under transform schema A must
    NOT be read back with a later generation's schema B (silent null-fill
    / read failure). The flush fails loudly instead."""
    from kinesumer_spark.streaming.engine import ShardLineage

    import pyspark.sql.functions as SF

    d = tmp_path / "stream"
    d.mkdir()
    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    lineage = [ShardLineage(stream="s", child=child, parent=parent,
                            parent_end=str(10).zfill(21))]
    # generation 1: child-only data under schema A (extra derived column)
    _raw_events_file(d / "part-0-child.parquet", range(11, 21), user_id=2)
    eng = Engine(spark, app="t-foreign", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume(
        [StreamSource("s", str(d), max_files_per_trigger=1)], lineage=lineage
    )
    schema_a = records.withColumn("seq_len", SF.length("sequence_number")).drop(
        "data"
    )
    q = eng.run(schema_a, lambda df, bid: None, trigger={"availableNow": True})
    q.awaitTermination(120)
    eng.close()

    # generation 2 (fresh engine, same app root): parent data arrives, the
    # gate opens — but the transform now produces a DIFFERENT schema
    _raw_events_file(d / "part-1-parent.parquet", range(1, 11), user_id=1)
    eng2 = Engine(spark, app="t-foreign", checkpoint_root=str(tmp_path / "ck"))
    eng2._generation = 1  # fresh WAL, same ledger/deferred dirs
    records2 = eng2.consume([StreamSource("s", str(d))], lineage=lineage)
    schema_b = records2.withColumn("upper_pk", SF.upper("partition_key")).drop(
        "data"
    )
    # default trigger (not availableNow): the tick written while the
    # child defers must fire a later microbatch in which the gate opens
    # and the flush hits the foreign-schema backlog
    q2 = eng2.run(schema_b, lambda df, bid: None)
    with pytest.raises(Exception):
        q2.processAllAvailable()
    eng2.close()
    assert any("different" in e and "schema" in e for e in eng2.errors()), (
        eng2.errors()
    )


def _gate_engine(spark, tmp_path, app):
    """Engine with one parent→child lineage edge and the deferred area
    materialized, for driving _admit directly (the batch-side unit of
    the reshard gate — foreachBatch hands it a plain DataFrame)."""
    from kinesumer_spark.streaming.engine import ShardLineage

    parent = "shardId-" + "1".rjust(12, "0")
    child = "shardId-" + "2".rjust(12, "0")
    eng = Engine(spark, app=app, checkpoint_root=str(tmp_path / "ck"))
    eng._lineage = {("s", child): [(parent, str(10).zfill(21))]}
    os.makedirs(eng._deferred_data_dir(), exist_ok=True)
    os.makedirs(eng._deferred_tick_dir(), exist_ok=True)
    return eng, parent, child


def _gate_rows(spark, shard, seqs, extra=None):
    rows = [("s", shard, str(i).zfill(21), "k", extra or "v") for i in seqs]
    return spark.createDataFrame(
        rows, "stream string, shard_id string, sequence_number string, "
        "partition_key string, payload string"
    )


def test_admit_replay_after_gate_opened_delivers_once(spark, tmp_path):
    """r8 review: batch B defers child rows, commit() opens the gate,
    the process dies BEFORE the WAL commit, and B replays with the gate
    now open — the child rows arrive via the MAIN path while the stale
    b-<gen>-<B> subdir still holds the deferred copies. The flush's
    full-row dedup must deliver each row exactly once."""
    eng, parent, child = _gate_engine(spark, tmp_path, "t-replay-open")
    # parent committed through parent_end → gate OPEN
    eng.commit(_gate_rows(spark, parent, range(1, 11)), 0)

    batch = _gate_rows(spark, child, range(11, 21))
    # the crashed attempt's deferral: same rows, persisted under this
    # schema's namespace as batch 1 of generation 0
    stale = os.path.join(
        eng._deferred_schema_dir(batch.schema), "b-000000-" + "1".zfill(20)
    )
    batch.write.mode("overwrite").parquet(stale)

    out = eng._admit(batch, 1).collect()
    seqs = sorted(r["sequence_number"] for r in out)
    assert seqs == [str(i).zfill(21) for i in range(11, 21)], seqs  # once each
    eng.close()


def test_admit_ignores_dead_foreign_schema_backlog(spark, tmp_path):
    """r8 review: a drained-and-committed backlog under an OLD transform
    schema keeps its files until compact_deferred — footer rows alone
    must not abort the query; only rows still ahead of the committed
    marks make a namespace foreign."""
    eng, parent, child = _gate_engine(spark, tmp_path, "t-dead-foreign")
    # child fully committed through 20 → any ≤20 backlog row is dead
    eng.commit(_gate_rows(spark, parent, range(1, 11)), 0)
    eng.commit(_gate_rows(spark, child, range(11, 21)), 1)

    # old-schema (extra column) drained backlog, all rows ≤ the mark
    import pyspark.sql.functions as SF

    old = _gate_rows(spark, child, range(11, 21)).withColumn(
        "seq_len", SF.length("sequence_number")
    )
    stale = os.path.join(
        eng._deferred_schema_dir(old.schema), "b-000000-" + "0".zfill(20)
    )
    old.write.mode("overwrite").parquet(stale)

    batch = _gate_rows(spark, child, range(21, 26))  # current schema
    out = eng._admit(batch, 2).collect()  # must NOT raise
    assert sorted(r["sequence_number"] for r in out) == [
        str(i).zfill(21) for i in range(21, 26)
    ]

    # and a LIVE foreign backlog (rows ahead of the mark) still raises
    live = _gate_rows(spark, child, range(30, 35)).withColumn(
        "seq_len", SF.length("sequence_number")
    )
    live.write.mode("append").parquet(stale)
    eng2, _, _ = _gate_engine(spark, tmp_path, "t-dead-foreign")
    with pytest.raises(RuntimeError, match="different"):
        eng2._admit(_gate_rows(spark, child, range(26, 28)), 3)
    eng.close()
    eng2.close()


def test_admit_flush_preserves_main_path_duplicates(spark, tmp_path):
    """r9 advisory: replay dedup is BACKLOG-side only — two legitimately
    identical rows produced by a caller transform on the MAIN path (e.g.
    explode of an array with repeated values) must BOTH deliver even in
    a gate-open flush batch, including on never-deferred shards."""
    eng, parent, child = _gate_engine(spark, tmp_path, "t-main-dups")
    eng.commit(_gate_rows(spark, parent, range(1, 11)), 0)  # gate OPEN

    # stale deferral of the child rows (crashed attempt), replayed on
    # the main path together with an identical fan-out pair on an
    # unrelated shard
    child_rows = _gate_rows(spark, child, range(11, 16))
    stale = os.path.join(
        eng._deferred_schema_dir(child_rows.schema), "b-000000-" + "1".zfill(20)
    )
    child_rows.write.mode("overwrite").parquet(stale)
    other = "shardId-" + "7".rjust(12, "0")
    fanout = _gate_rows(spark, other, [30]).unionAll(
        _gate_rows(spark, other, [30])
    )  # identical full rows, multiplicity 2
    out = eng._admit(child_rows.unionAll(fanout), 1).collect()
    seqs = sorted(r["sequence_number"] for r in out)
    assert seqs == [str(i).zfill(21) for i in range(11, 16)] + [
        str(30).zfill(21)
    ] * 2, seqs  # child once each, fan-out pair intact
    eng.close()


def test_admit_flush_backlog_fanout_multiplicity(spark, tmp_path):
    """r9 advisory: a cross-generation replay re-defers the same rows
    under a NEW b-<gen>-<id> subdir. Per row-content the true fan-out
    multiplicity is the count within ONE subdir — the flush collapses
    replay copies across subdirs but keeps within-subdir duplicates."""
    eng, parent, child = _gate_engine(spark, tmp_path, "t-backlog-mult")
    eng.commit(_gate_rows(spark, parent, range(1, 11)), 0)  # gate OPEN

    pair = _gate_rows(spark, child, [12]).unionAll(_gate_rows(spark, child, [12]))
    schema_dir = eng._deferred_schema_dir(pair.schema)
    # generation-0 deferral: fan-out pair (legit multiplicity 2)
    pair.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(schema_dir, "b-000000-" + "1".zfill(20))
    )
    # generation-1 replay of the SAME batch content under a new subdir
    pair.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(schema_dir, "b-000001-" + "0".zfill(20))
    )
    out = eng._admit(_gate_rows(spark, parent, [40]), 1).collect()
    seqs = sorted(r["sequence_number"] for r in out)
    assert seqs == [str(12).zfill(21)] * 2 + [str(40).zfill(21)], seqs
    eng.close()


def test_deferred_schema_fingerprint_ignores_nullability(spark, tmp_path):
    """r9 advisory: a benign nullability/metadata flip between engine
    generations must NOT re-namespace the deferred backlog (the old
    namespace would look foreign and kill the query); a real dataType
    or name change still must."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    eng, _parent, _child = _gate_engine(spark, tmp_path, "t-fingerprint")
    a = StructType(
        [
            StructField("stream", StringType(), True),
            StructField("tags", ArrayType(StringType(), True), True),
            StructField(
                "nested",
                StructType([StructField("x", LongType(), True)]),
                True,
            ),
        ]
    )
    flipped = StructType(
        [
            StructField("stream", StringType(), False, {"note": "meta"}),
            StructField("tags", ArrayType(StringType(), False), True),
            StructField(
                "nested",
                StructType([StructField("x", LongType(), False)]),
                False,
            ),
        ]
    )
    assert eng._deferred_schema_dir(a) == eng._deferred_schema_dir(flipped)
    changed = StructType(
        [
            StructField("stream", StringType(), True),
            StructField("tags", ArrayType(LongType(), True), True),  # type flip
            StructField(
                "nested",
                StructType([StructField("x", LongType(), True)]),
                True,
            ),
        ]
    )
    assert eng._deferred_schema_dir(a) != eng._deferred_schema_dir(changed)
    eng.close()


def test_admit_flush_with_reserved_looking_columns(spark, tmp_path):
    """r9 hardening: the flush's temp columns must not collide with
    caller-transform columns that happen to use the same names."""
    import pyspark.sql.functions as SF

    eng, parent, child = _gate_engine(spark, tmp_path, "t-reserved-cols")
    eng.commit(_gate_rows(spark, parent, range(1, 11)), 0)  # gate OPEN

    rows = _gate_rows(spark, child, range(11, 14)).withColumn(
        "_ks_n", SF.lit("caller-owned")
    ).withColumn("_ks_subdir", SF.lit(7))
    stale = os.path.join(
        eng._deferred_schema_dir(rows.schema), "b-000000-" + "1".zfill(20)
    )
    rows.write.mode("overwrite").parquet(stale)

    out = eng._admit(rows, 1).collect()  # replay: backlog + main copies
    seqs = sorted(r["sequence_number"] for r in out)
    assert seqs == [str(i).zfill(21) for i in range(11, 14)], seqs
    assert all(r["_ks_n"] == "caller-owned" and r["_ks_subdir"] == 7 for r in out)
    eng.close()


def test_neardup_admit_catches_pairs_across_microbatches(spark, tmp_path):
    """stream_neardup_admit's core claim, isolated: a doc arriving in a
    LATER microbatch must be verified against a near-identical doc from
    an EARLIER microbatch (the static-index gate structurally cannot do
    this). Two batch files, the near-dup pair split across them."""
    import pandas as pd

    from kinesumer_spark.operators.dedup import stream_inrow_band_probe
    from kinesumer_spark.streaming.stateful import bucket_admit_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [
        [(1, "en", base), (2, "en", "totally different words entirely here")],
        [(3, "en", base + " extra")],  # near-dup of doc 1, later batch
    ]
    src = tmp_path / "admit_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        pd.DataFrame(rows, columns=["doc_id", "lang", "text"]).to_parquet(
            src / f"batch_{i}.parquet", index=False
        )
    stream = (
        spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    pairs = bucket_admit_pairs(stream_inrow_band_probe(stream))
    q = (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_admit_cross")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {
        (r["doc_id"], r["partner"])
        for r in spark.table("t_admit_cross").collect()
    }
    assert (3, 1) in got, got          # later batch caught earlier arrival
    assert all(p < d for d, p in got), got  # partner always arrived first


def test_update_bucket_index_replay_is_idempotent():
    """A replayed microbatch (restart re-running an uncommitted batch)
    must re-emit NOTHING and leave bucket state unchanged — the
    exactly-once property the admit op's restart proof stands on."""
    import pandas as pd

    from kinesumer_spark.streaming.stateful import _update_bucket_index

    class _StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = _StubState()
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "sh_set": [["a b c", "b c d"], ["a b c", "b c d", "c d e"]],
        }
    )
    out1 = list(_update_bucket_index((0,), iter([rows]), st))
    assert len(out1) == 1 and len(out1[0]) == 1
    assert (out1[0].doc_id[0], out1[0].partner[0]) == (2, 1)
    state_after_1 = st._v
    out2 = list(_update_bucket_index((0,), iter([rows]), st))
    assert out2 == []                      # nothing re-emitted
    assert st._v == state_after_1          # state unchanged


def test_bucket_index_ttl_prunes_state_without_changing_verdicts():
    """The bounded-state variant's contract: entries older than the
    horizon are evicted from bucket state (size tracks the active
    window), and eviction only ever REMOVES out-of-window pairs — an
    in-window pair verifies identically with and without the horizon."""
    import pandas as pd

    from kinesumer_spark.streaming.stateful import _make_bucket_update

    class _StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    sh = ["a b c", "b c d"]
    mk_rows = lambda ids: pd.DataFrame(  # noqa: E731
        {"doc_id": ids, "sh_set": [sh] * len(ids)}
    )
    # horizon 10: doc 1 then doc 100 (gap 99 > 10) — no pair, state pruned
    st = _StubState()
    upd = _make_bucket_update(10)
    out = list(upd((0,), iter([mk_rows([1])]), st))
    assert out == []
    out = list(upd((0,), iter([mk_rows([100])]), st))
    assert out == []                       # expired partner: no pair
    assert list(st._v[0]) == [100]         # doc 1 pruned from state
    # same arrivals, horizon 200: the pair verifies and both stay
    st2 = _StubState()
    upd2 = _make_bucket_update(200)
    list(upd2((0,), iter([mk_rows([1])]), st2))
    out = list(upd2((0,), iter([mk_rows([100])]), st2))
    assert len(out) == 1 and (out[0].doc_id[0], out[0].partner[0]) == (100, 1)
    assert sorted(st2._v[0]) == [1, 100]


def test_source_cap_update_is_replay_idempotent():
    """The per-source counter's exactly-once contract (the band-bucket
    index's discipline applied to the cap): a replayed microbatch emits
    nothing and leaves the counter unchanged; fresh arrivals rank
    strictly after the high-water mark; the cap boundary lands exactly
    at arrival_rank == cap."""
    import pandas as pd

    from kinesumer_spark.streaming.stateful import make_source_cap_update

    class _StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = _StubState()
    upd = make_source_cap_update(2)
    b1 = pd.DataFrame({"doc_id": [10, 20]})
    out1 = list(upd(("srcA",), iter([b1]), st))
    assert list(out1[0].arrival_rank) == [1, 2]
    assert list(out1[0].admitted) == [True, True]
    state_after_1 = st._v
    # replayed microbatch: nothing emitted, counter untouched
    assert list(upd(("srcA",), iter([b1]), st)) == []
    assert st._v == state_after_1
    # next batch crosses the cap: rank continues, admission flips
    b2 = pd.DataFrame({"doc_id": [30, 40]})
    out2 = list(upd(("srcA",), iter([b2]), st))
    assert list(out2[0].arrival_rank) == [3, 4]
    assert list(out2[0].admitted) == [False, False]
    assert st._v == (4, 40)


def test_ct_inrow_profile_edge_texts(spark):
    """The in-row Cavnar–Trenkle doc profile (sorted grams → run
    boundaries → zip_with run lengths → struct sort) must agree with a
    Python reference on the edge shapes the fixtures never hit: text
    shorter than one trigram, exactly one trigram, all-identical
    grams, and a quote character inside a gram (map-literal escaping)."""
    from collections import Counter

    from kinesumer_spark.operators.text import (
        _CT_K,
        _CT_LANGS,
        _CT_PREFIX,
        ct_inrow_lang_id,
    )

    texts = ["ab", "abc", "aaaaaa", "it's a quote 'x' y", ""]
    maps = {L: "map('abc', 1L, 'aaa', 2L)" for L in _CT_LANGS}
    df = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        "doc_id bigint, lang string, text string",
    )
    got = {r["doc_id"]: r for r in ct_inrow_lang_id(df, maps).collect()}

    def ref_dist(text: str) -> int:
        t = text[:_CT_PREFIX]
        n = max(len(t) - 2, 1)
        grams = [t[i : i + 3] for i in range(n)]
        counts = Counter(grams)
        prof = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_CT_K]
        ranks = {"abc": 1, "aaa": 2}
        return sum(
            abs(i + 1 - ranks[g]) if g in ranks else _CT_K
            for i, (g, _) in enumerate(prof)
        )

    for i, t in enumerate(texts):
        for L in _CT_LANGS:
            assert got[i][f"dist_{L}"] == ref_dist(t), (i, t, L)


def test_semcell_update_replay_idempotent_and_ordered():
    """The semantic admit cell's exactly-once contract (the band-bucket
    discipline in embedding space): a replayed microbatch emits nothing
    and leaves state unchanged; an out-of-order fresh arrival raises;
    tau-passing pairs attribute to the LATER side; the cell-max row
    (NULL partner) carries the sub-tau neighbourhood for max_cos."""
    import pandas as pd
    import pytest as _pytest

    from kinesumer_spark.streaming.stateful import make_semcell_update

    class _StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = _StubState()
    upd = make_semcell_update(0.5)
    # v1 ⟂ v2, v3 ≈ v1: one tau pair (3, 1) and a cell-max row for 2 & 3
    b1 = pd.DataFrame(
        {"doc_id": [1, 2], "e": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]}
    )
    out1 = list(upd((0,), iter([b1]), st))
    # doc 2's only earlier mate is orthogonal: cell-max row, no tau pair
    assert len(out1) == 1 and len(out1[0]) == 1
    r = out1[0].iloc[0]
    assert (r["doc_id"], r["cos"]) == (2, 0.0) and pd.isna(r["partner"])
    state_1 = st._v
    assert list(upd((0,), iter([b1]), st)) == []  # replay: nothing
    assert st._v == state_1
    b2 = pd.DataFrame({"doc_id": [3], "e": [[1.0, 0.1, 0.0]]})
    out2 = list(upd((0,), iter([b2]), st))
    rows = out2[0]
    tau_rows = rows[rows["partner"].notna()]
    assert list(tau_rows["partner"]) == [1]  # attribution: later side 3
    assert list(tau_rows["doc_id"]) == [3]
    assert float(tau_rows["cos"].iloc[0]) > 0.99
    # cell-max row present and equals the best cosine
    mx = rows[rows["partner"].isna()]
    assert len(mx) == 1 and float(mx["cos"].iloc[0]) == float(
        tau_rows["cos"].max()
    )
    # out-of-order FRESH arrival (id 0 unseen, below the high water):
    # loud failure, not silent misattribution (a replayed SEEN id is
    # skipped before this check — that is the idempotence path above)
    with _pytest.raises(ValueError):
        list(
            upd(
                (0,),
                iter([pd.DataFrame({"doc_id": [0], "e": [[1.0, 0.0, 0.0]]})]),
                st,
            )
        )


def test_semcell_update_packed_state_and_horizon():
    """r15 state hardening: (a) state is the packed
    (ids, flat array<double>, norms) encoding and the cached norm is
    used (no JSON round-trip); (b) with a horizon, out-of-window
    cell-mates neither verify nor survive eviction, and the prune is
    exact (an evicted entry could never pair with any future doc)."""
    import math

    import pandas as pd

    from kinesumer_spark.streaming.stateful import make_semcell_update

    class _StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = _StubState()
    upd = make_semcell_update(0.5, horizon=10)
    b1 = pd.DataFrame(
        {"doc_id": [1, 2], "e": [[1.0, 0.0, 0.0], [0.9, 0.1, 0.0]]}
    )
    list(upd((0,), iter([b1]), st))
    ids, flat, norms = st._v
    assert ids == [1, 2]
    assert flat == [1.0, 0.0, 0.0, 0.9, 0.1, 0.0]  # packed, row-major
    assert norms[0] == 1.0
    assert norms[1] == math.sqrt(0.9 * 0.9 + 0.1 * 0.1)
    # doc 20: both mates are out of the 10-arrival window — no pairs,
    # no cell-max row, and the batch-end prune evicts them
    out = list(upd((0,), iter([pd.DataFrame(
        {"doc_id": [20], "e": [[1.0, 0.0, 0.0]]}
    )]), st))
    assert out == []
    ids2, flat2, norms2 = st._v
    assert ids2 == [20] and flat2 == [1.0, 0.0, 0.0] and norms2 == [1.0]
    # doc 25: in-horizon mate 20 verifies (identical vector, cos 1.0)
    out2 = list(upd((0,), iter([pd.DataFrame(
        {"doc_id": [25], "e": [[1.0, 0.0, 0.0]]}
    )]), st))
    rows = out2[0]
    tau = rows[rows["partner"].notna()]
    assert list(tau["partner"]) == [20] and float(tau["cos"].iloc[0]) == 1.0


class _StubGroupState:
    """Minimal applyInPandasWithState GroupState stand-in (the shape
    the semcell/bucket update fns consume)."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_semcell_update_membership_cap():
    """r16 cap twin (r15 verdict #6): with cap=C a doc verifies only
    against the C most recent cell-mates, eviction keeps exactly the
    last C entries, and the cap/horizon bounds are mutually exclusive
    (a combined form would be a third relation neither oracle models)."""
    import pandas as pd
    import pytest as _pytest

    from kinesumer_spark.streaming.stateful import make_semcell_update

    with _pytest.raises(ValueError):
        make_semcell_update(0.5, horizon=10, cap=2)

    st = _StubGroupState()
    upd = make_semcell_update(0.5, cap=2)
    # three near-identical vectors arrive: state must keep only 2
    b1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "e": [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0]],
        }
    )
    out1 = list(upd((0,), iter([b1]), st))
    ids, flat, norms = st._v
    assert ids == [2, 3], "cap eviction must keep the LAST cap entries"
    assert flat == [1.0, 0.0, 1.0, 0.0] and norms == [1.0, 1.0]
    # within the batch, doc 3 saw both 1 and 2 (cap=2 ⇒ last-2 = both)
    tau1 = pd.concat(out1)
    tau1 = tau1[tau1["partner"].notna()]
    assert sorted(
        map(tuple, tau1[["doc_id", "partner"]].astype(int).values)
    ) == [(2, 1), (3, 1), (3, 2)]
    # doc 4: eligible partners are the last 2 = {2, 3}; 1 is evicted
    out2 = list(upd((0,), iter([pd.DataFrame(
        {"doc_id": [4], "e": [[1.0, 0.0]]}
    )]), st))
    tau2 = out2[0]
    tau2 = tau2[tau2["partner"].notna()]
    assert sorted(map(int, tau2["partner"])) == [2, 3]
    assert st._v[0] == [3, 4]


def test_semcell_update_packed_state_guards():
    """r15 driver advice: a ragged packed state (flat length not a
    multiple of the id count) and an arrival whose dim differs from the
    cell's packing must both fail loudly — silent slicing would
    misalign every stored vector."""
    import pandas as pd
    import pytest as _pytest

    from kinesumer_spark.streaming.stateful import make_semcell_update

    upd = make_semcell_update(0.5)
    # corrupted state: 2 ids but 5 floats (not a multiple)
    st = _StubGroupState()
    st._v = ([1, 2], [1.0, 0.0, 0.0, 1.0, 9.9], [1.0, 1.0])
    st.exists = True
    with _pytest.raises(ValueError, match="packed semcell state"):
        list(upd((0,), iter([pd.DataFrame(
            {"doc_id": [3], "e": [[1.0, 0.0]]}
        )]), st))
    # dim drift: cell packed at dim 2, arrival carries dim 3
    st2 = _StubGroupState()
    list(upd((0,), iter([pd.DataFrame(
        {"doc_id": [1], "e": [[1.0, 0.0]]}
    )]), st2))
    with _pytest.raises(ValueError, match="dim drift"):
        list(upd((0,), iter([pd.DataFrame(
            {"doc_id": [2], "e": [[1.0, 0.0, 0.0]]}
        )]), st2))
    # in-batch drift with empty prior state must also fail
    st3 = _StubGroupState()
    with _pytest.raises(ValueError, match="dim drift"):
        list(upd((0,), iter([pd.DataFrame(
            {"doc_id": [1, 2], "e": [[1.0, 0.0], [1.0, 0.0, 0.0]]}
        )]), st3))


class _StubListState:
    """Minimal transformWithStateInPandas ListState stand-in recording
    which mutation path (appendList vs put) the processor took."""

    def __init__(self):
        self.rows: list[tuple] = []
        self.calls: list[str] = []

    def get(self):
        return iter(list(self.rows))

    def appendList(self, new):
        self.calls.append("appendList")
        self.rows.extend(new)

    def put(self, new):
        self.calls.append("put")
        self.rows = list(new)

    def clear(self):
        self.calls.append("clear")
        self.rows = []


def test_bucket_admit_processor_matches_old_api():
    """r15 verdict #5: the transformWithStateInPandas port of the TTL
    admit must produce the IDENTICAL pair stream as the
    applyInPandasWithState form on the same arrivals (shared kernel),
    while using the incremental ListState path: appendList on a
    no-prune batch, put only when something expired."""
    import json

    import pandas as pd

    from kinesumer_spark.streaming.stateful import (
        BucketAdmitProcessor,
        _make_bucket_update,
    )

    class _Handle:
        def __init__(self, ls):
            self._ls = ls

        def getListState(self, name, schema):
            return self._ls

    def run_tws(batches, horizon):
        ls = _StubListState()
        p = BucketAdmitProcessor(horizon)
        p.init(_Handle(ls))
        outs = []
        for b in batches:
            outs.extend(p.handleInputRows(("en", 0, 1, 2), iter([b]), None))
        return outs, ls

    def run_old(batches, horizon):
        st = _StubGroupState()
        upd = _make_bucket_update(horizon)
        outs = []
        for b in batches:
            outs.extend(upd(("en", 0, 1, 2), iter([b]), st))
        return outs, st

    b1 = pd.DataFrame(
        {"doc_id": [1, 2], "sh_set": [["a", "b", "c"], ["a", "b", "c"]]}
    )
    b2 = pd.DataFrame({"doc_id": [4], "sh_set": [["a", "b", "d"]]})
    for horizon in (None, 100, 2):
        new_out, ls = run_tws([b1, b2], horizon)
        old_out, _ = run_old([b1, b2], horizon)
        a = pd.concat(new_out, ignore_index=True) if new_out else None
        b = pd.concat(old_out, ignore_index=True) if old_out else None
        if a is None or b is None:
            assert a is None and b is None
        else:
            pd.testing.assert_frame_equal(
                a.astype({"doc_id": int, "partner": int}),
                b.astype({"doc_id": int, "partner": int}),
            )
        # state content matches the old API's packed encoding
        if horizon == 2:
            # doc 4 expired docs 1..2 (cut = 4-2 = 2 keeps only id>=2)
            assert "put" in ls.calls, "prune must rewrite via put()"
        else:
            assert ls.calls and set(ls.calls) == {"appendList"}, ls.calls
        decoded = sorted(int(r[0]) for r in ls.rows)
        assert decoded[-1] == 4
        for r in ls.rows:
            json.loads(r[1])  # every stored set is valid sorted JSON


def test_neardup_admit_ttl_tws_capability_gate():
    """The TWS admit twin registers only where protobuf exists — the
    stream_transform_with_state gate pattern, applied to the r15
    verdict-#5 measurement op. The processor and wiring are always
    importable; the registry entry is environment-gated."""
    from kinesumer_spark.registry import all_queries
    from kinesumer_spark.streaming.queries import (
        stream_neardup_admit_ttl_tws,
        tws_supported,
    )
    from kinesumer_spark.streaming.stateful import (
        BucketAdmitProcessor,
        bucket_admit_pairs_tws,
    )

    BucketAdmitProcessor(100)
    assert callable(bucket_admit_pairs_tws)
    assert callable(stream_neardup_admit_ttl_tws)
    assert ("stream_neardup_admit_ttl_tws" in all_queries()) == (
        tws_supported()
    )


def test_jvm_state_capability_gate(spark):
    """The JVM-state family (transformWithState via in-repo Java source
    compiled with the container's javac) registers only where the JDK
    exists and the compile is green — the tws_supported() pattern. In
    THIS container the JDK is present, so the three queries must be
    registered and the build must be cached/idempotent."""
    from kinesumer_spark.jvm import build_jar, jvm_state_supported
    from kinesumer_spark.registry import all_queries

    names = (
        "stream_transform_with_state_jvm",
        "stream_neardup_admit_ttl_jvm",
        "stream_neardup_admit_ttl_jvm_restart",
        "stream_neardup_admit_fused_jvm",
        "stream_neardup_admit_fused_jvm_restart",
        "stream_semdedup_admit_ttl_jvm",
        "stream_semdedup_admit_fused_jvm",
        "stream_semdedup_admit_cap_jvm",
    )
    if jvm_state_supported():
        jar1 = build_jar()
        assert jar1 == build_jar()  # content-addressed, cached
        import os

        assert os.path.exists(jar1)
        for n in names:
            assert n in all_queries(), n
    else:
        for n in names:
            assert n not in all_queries(), n


def test_jvm_bucket_admit_matches_python_operator(spark, tmp_path):
    """The JVM BucketAdmitProcessor and the Python applyInPandasWithState
    form must emit the IDENTICAL pair relation (including the HALF_UP
    round-6 jaccards) on the same two-chunk staged arrivals — the
    distinct-equality that licensed registering the JVM twins under the
    Python twins' oracles."""
    import pandas as pd
    import pytest as _pytest

    from kinesumer_spark.jvm import bucket_admit_pairs_jvm, jvm_state_supported
    from kinesumer_spark.operators.dedup import stream_inrow_band_probe
    from kinesumer_spark.streaming.stateful import bucket_admit_pairs

    if not jvm_state_supported():
        _pytest.skip("no JDK in this environment")

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "lang": ["en"] * 4,
            "text": [
                "the quick brown fox jumps over the lazy dog today",
                "the quick brown fox jumps over the lazy dog today",
                "a completely different document about spark streaming",
                "the quick brown fox jumps over the lazy dog yesterday",
            ],
        }
    )
    src = tmp_path / "jvm_admit_src"
    src.mkdir()
    docs[docs.doc_id <= 2].to_parquet(src / "chunk_0.parquet", index=False)
    docs[docs.doc_id > 2].to_parquet(src / "chunk_1.parquet", index=False)

    def run(builder, tag, provider):
        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        if provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        try:
            stream = (
                spark.readStream.schema(
                    "doc_id bigint, lang string, text string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            pairs = builder(stream_inrow_band_probe(stream))
            ckpt = tmp_path / f"jvm_admit_ckpt_{tag}"
            q = (
                pairs.writeStream.outputMode("append")
                .format("memory")
                .queryName(f"jvm_admit_{tag}")
                .option("checkpointLocation", str(ckpt))
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            return (
                spark.sql(f"select * from jvm_admit_{tag}")
                .toPandas()[["doc_id", "partner", "jaccard"]]
                .drop_duplicates()
                .sort_values(["doc_id", "partner"])
                .reset_index(drop=True)
            )
        finally:
            if prev is None:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )

    j = run(lambda p: bucket_admit_pairs_jvm(spark, p, horizon=100), "j", True)
    p = run(lambda p: bucket_admit_pairs(p, horizon=100), "p", False)
    assert len(j) >= 1  # the near-identical docs must pair
    pd.testing.assert_frame_equal(
        j.astype({"doc_id": int, "partner": int}),
        p.astype({"doc_id": int, "partner": int}),
    )
    # a cross-chunk pair must exist (doc 4 pairs with 1 or 2): JVM
    # ListState carried state between microbatches
    assert (j["doc_id"] == 4).any()


def test_jvm_wrapper_rejects_zero_bounds(spark):
    """horizon=0 / cap=0 must raise, not silently pick a semantics: the
    JVM encodes unbounded as <= 0 while the Python twins treat 0 as 'no
    eligible earlier partner' — opposite meanings for the same explicit
    input (driver ADVICE r16). The two state surfaces the suite claims
    equivalent must agree on EVERY input, so 0 is rejected at the
    wrapper before it reaches either."""
    import pytest as _pytest

    from kinesumer_spark.jvm import (
        bucket_admit_pairs_jvm,
        jvm_state_supported,
        semcell_admit_pairs_jvm,
    )

    if not jvm_state_supported():
        _pytest.skip("no JDK in this environment")
    probe = spark.createDataFrame(
        [], "lang string, band int, key1 bigint, key2 bigint,"
        " doc_id bigint, sh_set array<string>"
    )
    with _pytest.raises(ValueError):
        bucket_admit_pairs_jvm(spark, probe, horizon=0)
    sem_probe = spark.createDataFrame(
        [], "cell int, doc_id bigint, e array<double>"
    )
    with _pytest.raises(ValueError):
        semcell_admit_pairs_jvm(spark, sem_probe, 0.9, horizon=0)
    with _pytest.raises(ValueError):
        semcell_admit_pairs_jvm(spark, sem_probe, 0.9, cap=0)


def test_jvm_round6_matches_python_repr_quantize(spark):
    """AdmitJvm.round6Shared derives the SHORTEST round-trip decimal
    itself (JDK 17's Double.toString predates the JDK-19 shortest-repr
    fix and can emit non-minimal digits that flip HALF_UP at an exact
    6th-decimal tie — driver ADVICE r16); it must equal CPython's
    repr-based Decimal HALF_UP quantize, the kernel's exactness
    discipline, on random and adversarial values."""
    import random
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    import pytest as _pytest

    from kinesumer_spark.jvm import _admit_jvm_class, jvm_state_supported

    if not jvm_state_supported():
        _pytest.skip("no JDK in this environment")
    cls = _admit_jvm_class(spark)
    meth = [m for m in cls.getMethods() if m.getName() == "round6Shared"][0]
    gw = spark.sparkContext._gateway
    jvm = spark._jvm

    def jvm_round6(x: float) -> float:
        arr = gw.new_array(jvm.java.lang.Object, 1)
        arr[0] = jvm.java.lang.Double(float(x))
        return float(meth.invoke(None, arr))

    rng = random.Random(7)
    vals = [rng.uniform(-1.0, 1.0) for _ in range(200)]
    # adversarial: values engineered near the 6th-decimal HALF_UP tie
    vals += [
        round(rng.uniform(0, 1), 7) + rng.choice([0.0, 5e-8, -5e-8])
        for _ in range(200)
    ]
    # random bit patterns in the cosine-plausible range
    for _ in range(100):
        x = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        if x == x and abs(x) < 1e6:
            vals.append(x)
    q = Decimal("0.000001")
    for v in vals:
        py = float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))
        assert jvm_round6(v) == py, repr(v)
