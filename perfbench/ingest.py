"""The ``ingest_steady`` workload: a consumer group over the Kinesis
wire protocol.

A 4-shard stream of the in-repo ``FakeKinesisServer`` feeds
``Engine.run`` (auto-commit on) with a sink that collects every
microbatch. The group resumes with a ledger that already holds
HISTORY_BATCHES commits of an earlier generation. A run has three
phases on one running query:

1. priming: Spark's ``kinesumer_wire`` batch writer places PRIME
   records, and their delivery absorbs the readers' cold start;
2. backlog: the same writer places BACKLOG records at once, which the
   running group drains (the producer and the bulk read path);
3. steady load, open loop: one generator thread puts records at
   STEADY_RATE through one boto3 client; latency is timed from when
   each record was due.

The endpoint and the load generator run in a child process of their
own (``WireService``), as a remote service and producer would: in the
consumer's process they took the interpreter lock from the engine's
Python work and, under load, made ``Engine.checkpoints()`` 5-10x slower than
the same call after the load stopped.

The delivered records are checked against the benchmark's own record of
what it put (ids, partition keys, MD5 hash-ring placement computed here
with hashlib, sequence order per shard, and the committed ledger).
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import time

from common import (
    ROOT,
    ProgressListener,
    Tracer,
    clock,
    log,
    median,
    percentile,
    start_session,
    timed_setups,
    trigger_metrics,
    trigger_spans,
)

STREAM = "wire"
HISTORY_STREAM = "wire-prev"
SHARDS = 4
SCAN_LIMIT = 2000  # the reference's default ScanLimit (kinesumer.go:29)
STEADY_RATE = 1000  # records/s; at 2000/s the consumer fell behind on 4 cores
PRIME = 400  # records whose delivery pays the readers' cold start
BACKLOG = 8000  # records the writer places at once after priming
WARMUP_S = 2.0  # steady load before the measured window opens
HISTORY_BATCHES = 5000  # ledger commits of the group's earlier generation
PUT_BATCH = 500  # the PutRecords per-call cap
# one pass per 50 ms keeps the generator's share of the process small;
# records still count their latency from when they were due
PUT_INTERVAL_S = 0.05


def ring_shard(key: str) -> str:
    """The shard owning ``key`` on the MD5 hash ring split evenly over
    SHARDS shards (the Kinesis placement rule, computed independently
    of the endpoint)."""
    h = int.from_bytes(hashlib.md5(key.encode()).digest(), "big")
    return f"shardId-{min(h // (2**128 // SHARDS), SHARDS - 1):012d}"


def make_inputs(rng: random.Random, n: int) -> tuple[list[int], list[str]]:
    """``n`` distinct payload ids and partition keys drawn from ``rng``."""
    ids = rng.sample(range(1, 1 << 48), n)
    keys = [f"pk-{rng.getrandbits(64):016x}" for _ in range(n)]
    return ids, keys


def wire_options(endpoint: str) -> dict:
    return {"endpoint": endpoint, "stream": STREAM, "scanlimit": str(SCAN_LIMIT)}


def trace_endpoint(server, tracer) -> None:
    """Count and time every operation the endpoint serves by wrapping
    the benchmark-owned server's dispatch."""

    fn = server.api.dispatch

    def dispatch(op, body):
        with tracer.span(f"endpoint.{op}"):
            out = fn(op, body)
        tracer.count(f"wire.{op}")
        if op == "GetRecords":
            # the tip probe asks for ScanLimit records, the reader for
            # 10,000 (kinesis_wire.py:1381, :1460)
            who = "probe" if int(body.get("Limit", 0)) == SCAN_LIMIT else "reader"
            tracer.count(f"wire.{who}_records_served", len(out["Records"]))
        elif op == "PutRecords":
            tracer.count("put.entries", len(body["Records"]))
            tracer.count("put.failed_entries", out.get("FailedRecordCount", 0))
        return out

    server.api.dispatch = dispatch


def trace_engine(engine, tracer) -> None:
    tracer.wrap(engine, "commit", "engine.commit")
    tracer.wrap(engine, "checkpoints", "engine.checkpoints")


class Deliveries:
    """What the sink received: (batch id, receipt time, rows) per call."""

    def __init__(self, tracer=None) -> None:
        self.batches: list[tuple[int, float, list]] = []
        self.n = 0
        self.tracer = tracer

    def sink(self, batch_df, batch_id: int) -> None:
        def take():
            return batch_df.select(
                "shard_id", "sequence_number", "partition_key", "data"
            ).collect()

        if self.tracer is None:
            rows = take()
        else:
            with self.tracer.span("engine.sink"):
                rows = take()
        self.batches.append((batch_id, clock(), rows))
        self.n += len(rows)


def check_delivery(
    deliveries: Deliveries, ids: list[int], keys: list[str], problems: list[str]
) -> dict[int, tuple[str, str]]:
    """Every put id delivered exactly once with its key and payload
    intact, on the shard the hash ring assigns, with sequence numbers
    rising per shard in delivery order. Returns id -> (shard, seq)."""
    key_of = dict(zip(ids, keys))
    seen: dict[int, tuple[str, str]] = {}
    last: dict[str, int] = {}
    dupes = foreign = bad_key = misplaced = unordered = 0
    for _bid, _t, rows in deliveries.batches:
        for r in rows:
            k = json.loads(bytes(r["data"]))["payload_k"]
            if k in seen:
                dupes += 1
                continue
            if k not in key_of:
                foreign += 1
                continue
            seen[k] = (r["shard_id"], r["sequence_number"])
            if r["partition_key"] != key_of[k]:
                bad_key += 1
            if r["shard_id"] != ring_shard(key_of[k]):
                misplaced += 1
            seq = int(r["sequence_number"])
            if seq <= last.get(r["shard_id"], -1):
                unordered += 1
            last[r["shard_id"]] = seq
    missing = len(key_of) - len(seen)
    for what, n in (
        ("duplicate deliveries", dupes),
        ("deliveries of ids never put", foreign),
        ("ids never delivered", missing),
        ("partition keys changed", bad_key),
        ("records off their hash-ring shard", misplaced),
        ("sequence numbers not rising per shard", unordered),
    ):
        if n:
            problems.append(f"{n} {what}")
    return seen


# -- ingest_steady -------------------------------------------------------------


def write_history(ledger_dir: str, app: str) -> dict[tuple[str, str], str]:
    """HISTORY_BATCHES commit files of generation 0 in the engine's
    ledger format (one JSON file per microbatch), for the stream the
    group consumed before. Returns the final mark per (stream, shard)."""
    os.makedirs(ledger_dir, exist_ok=True)
    marks: dict[tuple[str, str], str] = {}
    for b in range(HISTORY_BATCHES):
        cps = []
        for s in range(SHARDS):
            sid = f"shardId-{s:012d}"
            seq = str((b * SHARDS + s) * 400 + 399).zfill(21)
            cps.append({"stream": HISTORY_STREAM, "shard_id": sid, "sequence_number": seq})
            marks[(HISTORY_STREAM, sid)] = seq
        with open(os.path.join(ledger_dir, f"batch-000000-{b:020d}.json"), "w") as f:
            json.dump({"app": app, "batch_id": b, "checkpoints": cps}, f)
    return marks


class Generator:
    """Open-loop producer: record ``i`` is due at ``t0 + i / rate``; a
    pass every PUT_INTERVAL_S puts every record already due (at most
    PUT_BATCH per call) through one boto3 client, resubmitting per-entry
    failures."""

    def __init__(self, endpoint: str, ids, keys, rate: float, t0: float) -> None:
        self.endpoint, self.ids, self.keys = endpoint, ids, keys
        self.rate, self.t0 = rate, t0
        self.seq: dict[int, tuple[str, str]] = {}  # id -> (shard, seq) acked
        self.late: list[float] = []

    def run(self) -> None:
        from kinesumer_spark.sources.kinesis_wire import wire_client

        client = wire_client(self.endpoint)
        n, i = len(self.ids), 0
        while i < n:
            now = clock() - self.t0
            due = min(n, int(now * self.rate) + 1)
            if due <= i:
                time.sleep(PUT_INTERVAL_S - now % PUT_INTERVAL_S)
                continue
            j = min(due, i + PUT_BATCH)
            pending = list(range(i, j))
            sent = clock()
            self.late.extend(sent - (self.t0 + k / self.rate) for k in pending)
            for _attempt in range(8):
                resp = client.put_records(
                    StreamName=STREAM,
                    Records=[
                        {
                            "PartitionKey": self.keys[k],
                            "Data": json.dumps({"k": self.ids[k]}).encode(),
                        }
                        for k in pending
                    ],
                )
                failed = []
                for k, r in zip(pending, resp["Records"]):
                    if "ErrorCode" in r:
                        failed.append(k)
                    else:
                        self.seq[self.ids[k]] = (r["ShardId"], r["SequenceNumber"])
                pending = failed
                if not pending:
                    break
            if pending:
                raise RuntimeError(f"{len(pending)} PutRecords entries never accepted")
            i = j
            if i == due:
                # sleep to the next pass; otherwise what fell due during
                # this call goes out at once, in calls of a few records
                # that keep a core busy
                now = clock() - self.t0
                time.sleep(PUT_INTERVAL_S - now % PUT_INTERVAL_S)


def _service_main(conn, trace: bool) -> None:
    """Child-process loop of :class:`WireService`."""
    import sys

    sys.path.insert(0, ROOT)
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        drain_via_wire,
        open_stream,
    )

    tracer = Tracer() if trace else None
    server = retired = None
    while True:
        op, *args = conn.recv()
        try:
            if op == "reset":
                # the old endpoint stops after the reply: its shutdown
                # waits out a 0.5 s poll that no caller should time
                retired = server
                server = FakeKinesisServer(open_stream(STREAM, SHARDS)).__enter__()
                if tracer is not None:
                    trace_endpoint(server, tracer)
                reply = server.url
            elif op == "generate":
                gen = Generator(server.url, *args)
                gen.run()
                reply = {"seq": gen.seq, "late": gen.late}
            elif op == "drain":
                t = clock()
                rows = drain_via_wire(server.url, STREAM, scan_limit=SCAN_LIMIT)
                reply = (len(rows), clock() - t)
            elif op == "trace":
                reply = (dict(tracer.counters), list(tracer.spans))
                tracer.counters.clear()
                tracer.spans.clear()
            else:  # stop
                if server is not None:
                    server.stop()
                conn.send(None)
                return
        except Exception as e:  # noqa: BLE001 — re-raised in the parent
            reply = RuntimeError(f"{op}: {type(e).__name__}: {e}")
        conn.send(reply)
        if retired is not None:
            retired.stop()
            retired = None


class WireService:
    """A ``FakeKinesisServer`` (fresh on every :meth:`reset`) and the
    :class:`Generator`, in a spawned child process. ``perf_counter`` is
    the system-wide monotonic clock, so due and delivery times compare
    across the two processes."""

    def __init__(self, trace: bool) -> None:
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_service_main, args=(child, trace), daemon=True)
        self._proc.start()
        child.close()

    def _call(self, *msg):
        self._conn.send(msg)
        reply = self._conn.recv()
        if isinstance(reply, BaseException):
            raise reply
        return reply

    def reset(self) -> str:
        """A new empty stream on a new endpoint; returns its URL."""
        return self._call("reset")

    def generate(self, ids, keys, rate: float, t0: float) -> dict:
        """Run a :class:`Generator` to completion; returns its record."""
        return self._call("generate", ids, keys, rate, t0)

    def drain(self) -> tuple[int, float]:
        """``drain_via_wire`` over the stream: (records, seconds)."""
        return self._call("drain")

    def take_trace(self, tracer) -> None:
        """Move the endpoint's counters and spans into ``tracer``."""
        counters, spans = self._call("trace")
        for k, v in counters.items():
            tracer.count(k, v)
        for span in spans:  # top-level in the service; renumbered here
            span.update(id=tracer.new_id(), process="service")
        tracer.spans.extend(spans)

    def close(self) -> None:
        try:
            if self._proc.is_alive():
                self._call("stop")
        finally:
            self._proc.join(10)
            if self._proc.is_alive():
                self._proc.terminate()
                self._proc.join(10)
            self._conn.close()


def records_frame(spark, ids, keys):
    """The records as a DataFrame for the ``kinesumer_wire`` writer."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"partition_key": keys, "data": [json.dumps({"k": k}) for k in ids]})
    )


def write_frame(df, url: str) -> None:
    """Place ``df`` on the stream with Spark's ``kinesumer_wire`` batch
    writer (PutRecords from Spark's tasks)."""
    (
        df.write.format("kinesumer_wire")
        .option("endpoint", url)
        .option("stream", STREAM)
        .mode("append")
        .save()
    )


def wait_for(cond, query, what: str) -> None:
    deadline = clock() + 120
    while not cond():
        if query.exception() is not None or clock() > deadline:
            raise RuntimeError(f"{what}: {query.exception()}")
        time.sleep(0.005)


def take_phase(service, tracer) -> dict:
    """Move the endpoint's trace into ``tracer``; returns the endpoint
    counters of the phase since the last call."""
    before = dict(tracer.counters)
    service.take_trace(tracer)
    return {k: v - before.get(k, 0) for k, v in tracer.counters.items()}


def run_steady(work, seed: int, seconds: float, tracer) -> dict:
    service = WireService(tracer is not None)
    try:
        return _run_steady(work, service, seed, seconds, tracer)
    finally:
        service.close()


def _run_steady(work, service, seed: int, seconds: float, tracer) -> dict:
    from kinesumer_spark.sources.kinesis_wire import register_wire_source
    from kinesumer_spark.streaming.engine import CommitConfig, Engine, StreamSource

    root = work.sub("groups")
    ledger_dir = os.path.join(root, "group", "ledger")
    history = write_history(ledger_dir, "group")

    def setup(rep: int) -> dict:
        spark = start_session(work)
        register_wire_source(spark)
        url = service.reset()
        # every set-up rebuilds the same group, as a redeploy would
        engine = Engine(spark, "group", root, CommitConfig(auto=True))
        if tracer is not None:
            trace_engine(engine, tracer)
        # the ledger's history is generation 0; refresh() opens the
        # group's next generation on the live stream
        records = engine.refresh(
            [StreamSource(STREAM, format="kinesumer_wire", options=wire_options(url))]
        )
        return {"spark": spark, "engine": engine, "records": records, "url": url}

    def teardown(st: dict) -> None:
        st["engine"].close()
        st["spark"].stop()

    st, setup_times = timed_setups(setup, teardown)
    spark, engine, url = st["spark"], st["engine"], st["url"]
    deliveries = Deliveries(tracer)
    query = engine.run(st["records"], deliveries.sink, query_name="steady")
    # the first (empty) microbatch
    wait_for(lambda: query.lastProgress is not None, query, "consumer did not start")
    listener = ProgressListener(spark) if tracer is not None else None
    if tracer is not None:
        tracer.counters.clear()
        tracer.spans.clear()
        service.take_trace(Tracer())  # drop the set-ups' endpoint counts

    rate = STEADY_RATE
    written = PRIME + BACKLOG
    n = written + int(rate * (WARMUP_S + seconds))
    ids, keys = make_inputs(random.Random(seed), n)
    # the first records with data pay the readers' cold start (seconds)
    write_frame(records_frame(spark, ids[:PRIME], keys[:PRIME]), url)
    wait_for(lambda: deliveries.n >= PRIME, query, "priming records not delivered")
    if tracer is not None:
        take_phase(service, tracer)
    backlog = records_frame(spark, ids[PRIME:written], keys[PRIME:written])
    tb0 = clock()
    write_frame(backlog, url)
    tb1 = clock()
    wait_for(lambda: deliveries.n >= written, query, "backlog not delivered")
    tb2 = delivered_at(deliveries, written)
    if tracer is not None:
        backlog_counts = take_phase(service, tracer)
    t0 = clock() + 0.2
    gen = service.generate(ids[written:], keys[written:], rate, t0)
    acked = gen["seq"]
    # everything put is now delivered and committed (or the query failed)
    query.processAllAvailable()
    drained = clock()
    engine.close()
    problems: list[str] = []
    got = check_delivery(deliveries, ids, keys, problems)
    # a fresh stream numbers its records 0, 1, 2, ... as they arrive, and
    # the writer's records arrived first; their PutRecords responses
    # stay inside Spark's tasks
    if sorted(int(got[k][1]) for k in ids[:written] if k in got) != list(range(written)):
        problems.append("the writer's records do not hold sequence numbers 0..n-1")
    for k, placed in acked.items():
        if k in got and got[k] != placed:
            problems.append(f"id {k} delivered as {got[k]}, PutRecords acked {placed}")
            break
    expected = dict(history)
    for shard, seq in [*acked.values(), *(got[k] for k in ids[:written] if k in got)]:
        key = (STREAM, shard)
        if key not in expected or int(seq) > int(expected[key]):
            expected[key] = seq
    if engine.checkpoints() != expected:
        problems.append("Engine.checkpoints() differs from the put sequence maxima")

    lo, hi = t0 + WARMUP_S, t0 + WARMUP_S + seconds
    due = {k: t0 + i / rate for i, k in enumerate(ids[written:])}
    lat, window = [], []
    for _bid, t, rows in deliveries.batches:
        if lo <= t <= hi and rows:
            window.append((t, len(rows)))
        for r in rows:
            d = due.get(json.loads(bytes(r["data"]))["payload_k"])
            if d is not None and lo <= d < hi:
                lat.append(t - d)
    stamps = [t for t, _ in window]
    out = {
        "setup_s": median(setup_times),
        "latency_p50_s": median(lat),
        "latency_p99_s": percentile(lat, 99),
        # rows that arrived after the window's first delivery, over the
        # time they took: whole deliveries only, so no batch is split
        "delivered_rps": sum(n for _, n in window[1:]) / (stamps[-1] - stamps[0]),
        # mean time between deliveries: one microbatch cycle
        "round_s": (stamps[-1] - stamps[0]) / (len(stamps) - 1),
        "_samples": len(lat),
        "_setup_times": setup_times,
        "_attempted": n,
        "_problems": problems,
        "session.start_s": setup_times[0],
    }
    if tracer is not None:
        listener.close()
        steady_counts = take_phase(service, tracer)
        progress = [p for p in listener.progress if p["name"] == "steady"]
        trigger_spans(progress, tracer)
        # per-trigger costs of the measured window only: the priming
        # trigger pays the readers' start-up, the backlog's bulk reads
        trig = trigger_metrics([p for p in progress if lo <= p["seen"] <= hi])
        out.update(trig)
        # the engine's delivery (sink + commit) is the trigger's addBatch
        out["engine.deliver_ms"] = trig["trigger.add_batch_ms"]
        out.update(engine_layer(tracer, ledger_dir, lo, hi))
        out.update(wire_layer(steady_counts, n - written))
        out["wire.endpoint_busy_s"] = sum(
            s["end"] - s["start"]
            for s in tracer.spans
            if s["name"].startswith("endpoint.") and s["start"] >= tb2
        )
        bt = trigger_metrics(
            [p for p in progress if tb0 <= p["seen"] - trigger_s(p) <= tb2]
        )
        calls = backlog_counts.get("wire.PutRecords", 0)
        out.update(
            {
                "put.calls": float(calls),
                "put.entries_per_call": backlog_counts.get("put.entries", 0) / max(calls, 1),
                "put.retried_entries": float(backlog_counts.get("put.failed_entries", 0)),
                "put.rps": BACKLOG / (tb1 - tb0),
                "backlog.drain_rps": BACKLOG / (tb2 - tb0),
                "backlog.read_amplification": (
                    backlog_counts.get("wire.reader_records_served", 0) / BACKLOG
                ),
                "backlog.latest_offset_ms": bt["source.latest_offset_ms"],
                "backlog.rows_per_batch": bt["trigger.rows_per_batch"],
                "gen.late_p99_ms": percentile(gen["late"], 99) * 1000,
            }
        )
        n_drain, drain_s = service.drain()
        service.take_trace(Tracer())  # the baseline drain is not the consumer's
        if n_drain != n:
            problems.append(f"drain_via_wire returned {n_drain} of {n} records")
        out["wire.single_thread_drain_rps"] = n_drain / drain_s
    log(f"steady: backlog drained in {tb2 - tb0:.2f}s; "
        f"load drained {deliveries.n - written}/{n - written} in {drained - t0:.1f}s")
    spark.stop()
    return out


def delivered_at(deliveries: Deliveries, k: int) -> float:
    """When the sink had received ``k`` records in all."""
    total = 0
    for _bid, t, rows in deliveries.batches:
        total += len(rows)
        if total >= k:
            return t
    raise ValueError(f"fewer than {k} records delivered")


def trigger_s(p: dict) -> float:
    return p["duration_ms"].get("triggerExecution", 0) / 1000.0


def wire_layer(c: dict, delivered: int) -> dict:
    """Endpoint counts of the steady phase, per record it delivered."""
    per_k = 1000.0 / delivered
    probe = c.get("wire.probe_records_served", 0)
    reader = c.get("wire.reader_records_served", 0)
    return {
        "wire.get_records_per_1k": c.get("wire.GetRecords", 0) * per_k,
        "wire.get_shard_iterator_per_1k": c.get("wire.GetShardIterator", 0) * per_k,
        "wire.list_shards_per_1k": c.get("wire.ListShards", 0) * per_k,
        "wire.records_served": float(probe + reader),
        # the reader's over-fetch; the tip probe walks each new record
        # once more, which wire.probe_amplification shows
        "wire.read_amplification": reader / delivered,
        "wire.probe_amplification": probe / delivered,
    }


def engine_layer(tracer, ledger_dir: str, lo: float, hi: float) -> dict:
    """Mean engine spans that started in the measured window."""

    def mean_ms(name: str) -> float:
        d = [s["end"] - s["start"] for s in tracer.spans
             if s["name"] == name and lo <= s["start"] <= hi]
        return 1000.0 * sum(d) / len(d) if d else 0.0

    return {
        "engine.sink_ms": mean_ms("engine.sink"),
        "engine.commit_ms": mean_ms("engine.commit"),
        "engine.checkpoints_ms": mean_ms("engine.checkpoints"),
        "engine.ledger_files": float(
            sum(1 for f in os.listdir(ledger_dir) if f.endswith(".json"))
        ),
    }
