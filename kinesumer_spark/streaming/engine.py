"""Consumer-group engine: the reference's public API surface, Spark-first.

Maps daangn/kinesumer's client (kinesumer.go) onto Structured Streaming:

| reference                                   | here |
|---------------------------------------------|------|
| ``NewKinesumer(cfg)`` bootstrap :188-291    | ``Engine(spark, app, ...)`` |
| ``Consume(streams)`` → record chan :346-370 | ``consume(streams)`` → streaming DF in RECORD_SCHEMA (multi-stream unionByName) |
| shard scan loops O1/O2 :615-704, :513-607   | file-microbatch source (``maxFilesPerTrigger`` ≈ ScanLimit pacing) |
| ``MarkRecord``/``Commit`` O12/O13 :746-804  | per-batch offset ledger written by ``run()``'s foreachBatch wrapper (at-least-once), on top of Spark's exactly-once checkpoint WAL |
| state store (statestore.go)                 | ``checkpoint_root`` dirs + ``consumer_state()`` observability view (statemodel.go:17-53 schema) |
| ``Errors()`` chan O20 :833-844              | ``errors()`` (listener-captured, non-blocking) |
| ``Refresh(streams)`` O18 :817-831           | ``refresh()`` — stop + restart with new source set |
| ``Close()`` drain O22 :846-869              | ``close()`` |

Partition assignment, leader election, heartbeats, rebalance (O5-O10,
O17) have no code here at all: the Spark driver plans each microbatch
and the scheduler assigns source partitions to executors — that is the
entire point of rebuilding on Spark (SURVEY.md §1.3).

Delivery semantics: Spark's checkpoint WAL gives exactly-once batch
bookkeeping; the ledger reproduces the reference's *observable*
at-least-once contract (commit every batch ≈ commit interval → replay
window on crash is one microbatch instead of 5 s of marks).

Scale notes: one streaming DF per stream, unioned — each source lists
and plans its own files/offsets per batch (driver-side, like the
leader's shard-cache refresh O10 but free); state (dedup/window) is
keyed by (stream, shard_id) downstream, so executors scale with shard
count × partitions.

The ledger grows by one file per microbatch and nothing compacts it on
its own, so a commit must not cost O(history). Each ``Engine`` keeps the
ledger's high-water mark per (stream, shard) in memory: folded from
every file on first use (not at construction), max-merged with each of
its own commits after the rename. A commit lists the ledger directory
once (~3 ms at 5,000 files) and reads no file; a ``.json`` file this
handle did not write or fold (another handle, a compaction elsewhere,
a crash before the map update) triggers one full re-fold. The marks job
aggregates the persisted batch in one partition, so it runs as a single
stage with no shuffle.
"""

from __future__ import annotations

import datetime
import json
import os
import socket
import threading
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesumer_spark.streaming.envelope import (
    RECORD_SCHEMA,
    events_to_envelope,
)


def _canonical_schema(schema):
    """Strip nullability and field metadata RECURSIVELY so the deferred-
    namespace fingerprint keys on logical shape — (name, dataType) —
    only (r9 advisory; see _deferred_schema_dir)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def canon(dt):
        if isinstance(dt, StructType):
            return StructType(
                [StructField(f.name, canon(f.dataType), True) for f in dt.fields]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(canon(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(canon(dt.keyType), canon(dt.valueType), True)
        return dt

    return canon(schema)


def _parquet_live_rows(path: str) -> int:
    """Total row count across parquet data files under ``path``
    (recursive), summed from file footers DRIVER-SIDE — no Spark job.

    This is the deferred area's liveness probe: per-batch overwrite
    writes may legitimately produce zero-row part files, so "directory
    has files" is no longer evidence of pending rows. Footer metadata
    reads are O(files) driver-side lookups — the deferred area is
    file-count-bounded (one subdir per gated microbatch, compacted), so
    this stays cheap at any data scale; on object storage the same
    check would fold into the compaction manifest."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            try:
                total += pq.ParquetFile(
                    os.path.join(root, name)
                ).metadata.num_rows
            except (FileNotFoundError, OSError):
                # concurrently compacted or overwritten (compact_deferred
                # racing a live gate, or a replayed batch rewriting its
                # subdir): a vanished file holds no live rows — skip, so
                # the probe never kills the streaming query (r8 review)
                continue
            if total > 0:
                # callers only test > 0 / == 0 — stop at first live row
                # so a long-held gate's probe is O(files-until-hit), not
                # O(all files) per microbatch
                return total
    return total


def _dir_has_data_files(path: str) -> bool:
    """True if ``path`` exists and holds at least one non-hidden file —
    the schema probe runs only then, so real probe failures (corrupt
    footer, permission error) propagate instead of being swallowed by a
    blanket empty-dir fallback."""
    if not os.path.isdir(path):
        return False
    return any(
        e.is_file() and not e.name.startswith((".", "_"))
        for e in os.scandir(path)
    )


def _generic_to_envelope(df: DataFrame, stream: str) -> DataFrame:
    """Adapt a non-file streaming source's rows to RECORD_SCHEMA. The
    source must provide shard_id / sequence_number / partition_key; an
    ``arrival_ts`` column, when present, is passed through as the
    service timestamp (what a real connector supplies). Remaining
    payload columns become the JSON data bytes.

    Without an ``arrival_ts`` column the envelope falls back to a
    timestamp derived from the sequence number — via ``try_cast``, NOT
    a plain cast: connector sequence numbers can run to ~56 digits
    (past bigint), and under Spark 4's default ANSI mode a plain cast
    would throw mid-stream. Unparseable sequences get the batch's
    current timestamp instead."""
    key_cols = {"stream", "shard_id", "sequence_number", "partition_key", "arrival_ts"}
    payload_cols = [c for c in df.columns if c not in key_cols]
    if "arrival_ts" in df.columns:
        arrival = F.col("arrival_ts").cast("timestamp")
    else:
        arrival = F.coalesce(
            F.timestamp_micros(F.expr("try_cast(sequence_number AS bigint)")),
            F.current_timestamp(),
        )
    return df.select(
        F.lit(stream).alias("stream"),
        F.col("shard_id"),
        F.col("sequence_number"),
        F.col("partition_key"),
        F.to_json(F.struct(*payload_cols)).cast("binary").alias("data"),
        arrival.alias("arrival_ts"),
    )


def ordered_per_shard(records: DataFrame, fn, output_schema: str) -> DataFrame:
    """Apply ``fn(pdf) -> pdf`` per (stream, shard_id) with rows sorted by
    sequence_number — the reference's processing model (one ordered
    record feed per shard, kinesumer.go O1) as a first-class operator.

    One shuffle on the shard key, then Arrow-batched per-group apply;
    parallelism = number of shards × streams, exactly like the
    reference's goroutine-per-shard fan-out (kinesumer.go:487-499).
    """
    import pandas as pd

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return fn(pdf.sort_values("sequence_number").reset_index(drop=True))

    return records.groupBy("stream", "shard_id").applyInPandas(run, output_schema)


def _max_seq(a: str | None, b: str) -> str:
    """The higher of two decimal sequence numbers, in
    ``Engine._seq_order_key`` order; ``a`` may be absent."""
    if a is None or Engine._seq_order_key(b) > Engine._seq_order_key(a):
        return b
    return a


def _fold_ledger(ledger_dir: str, names) -> dict[tuple[str, str], str]:
    """Highest mark per (stream, shard) over the named ledger files."""
    out: dict[tuple[str, str], str] = {}
    for fn in sorted(names):
        with open(os.path.join(ledger_dir, fn)) as f:
            doc = json.load(f)
        for cp in doc["checkpoints"]:
            k = (cp["stream"], cp["shard_id"])
            out[k] = _max_seq(out.get(k), cp["sequence_number"])
    return out


@dataclass
class CommitConfig:
    """Mirror of the reference's CommitConfig (kinesumer.go:77-95).

    ``auto=True`` → the run() wrapper writes the offset ledger after
    every microbatch (the reference flushes marks every 5 s; a
    microbatch is our commit interval). ``auto=False`` → the caller
    invokes ``Engine.commit(batch_df, batch_id)`` inside its sink.

    ``on_sink_error`` extends the reference's fail-fast contract with
    the Kafka-Connect ``errors.tolerance=all`` mode: ``"fail"``
    (default, reference behavior — the query dies and WAL replay
    redelivers the batch) or ``"dlq"`` — a batch whose sink raises is
    written WHOLE to the dead-letter area instead, the error is
    recorded on the side channel, the batch still commits, and the
    stream keeps flowing (poison-pill isolation: one bad batch cannot
    wedge the consumer; the DLQ parquet is replayable via
    ``Engine.replay_from`` semantics — original envelope bytes)."""

    auto: bool = True
    on_sink_error: str = "fail"  # "fail" | "dlq"


@dataclass
class StreamSource:
    """One named stream. ``format="parquet"`` (default): backed by a
    parquet directory (stand-in for a Kinesis stream). Any other value
    is a Spark streaming source format name — e.g. the custom Python
    source ``"kinesumer_sim_stream"`` (sources/python_source.py) —
    read with ``options`` and adapted to the record envelope; the
    delivery/ledger layer is source-agnostic
    (test_consume_from_python_stream_source)."""

    name: str
    path: str = ""
    max_files_per_trigger: int | None = 1
    format: str = "parquet"
    options: dict | None = None


@dataclass(frozen=True)
class ShardLineage:
    """One reshard edge: ``child`` shard was created when ``parent``
    closed at ``parent_end`` (the parent's EndingSequenceNumber).

    This is the piece the reference explicitly punts on —
    ``TODO(mingrammer): handle the closed shards`` (kinesumer.go:314):
    after a Kinesis reshard, per-key ordering only survives if every
    parent record is processed BEFORE any child record. The engine
    enforces exactly that (see ``Engine.consume``'s ``lineage``
    parameter): child-shard rows are deferred — durably, via a loopback
    stream, never buffered on the driver — until the ledger shows the
    parent committed through ``parent_end``. A merge reshard is two
    edges with the same child; the child waits for both parents."""

    stream: str
    child: str
    parent: str
    parent_end: str


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        app: str,
        checkpoint_root: str,
        commit: CommitConfig | None = None,
    ) -> None:
        if not app:
            # errEmptyAppName parity (kinesumer.go:189-193)
            raise ValueError("app name must not be empty")
        self.spark = spark
        self.app = app
        # client-id parity (kinesumer.go:195-204 / pkg/xrand): hostname +
        # random suffix; purely informational here (the driver is the
        # only "client"), surfaced via consumer_state()
        self.client_id = f"{socket.gethostname()}-{uuid.uuid4().hex[:6]}"
        self.checkpoint_root = checkpoint_root
        self.commit_config = commit or CommitConfig()
        self._streams: dict[str, StreamSource] = {}
        self._query = None
        # ids of queries THIS engine started — the session-wide listener
        # bus delivers every query's events (other engines, test sinks);
        # progress()/errors() must only reflect ours
        self._query_ids: set[str] = set()
        self._errors: list[str] = []
        self._progress: list[dict] = []
        self._listener = None
        self._lock = threading.Lock()
        self._generation = 0
        # (stream, child_shard) → [(parent_shard, parent_end), ...];
        # populated by consume(lineage=...), empty = no reshard gating
        self._lineage: dict[tuple[str, str], list[tuple[str, str]]] = {}
        # children whose deferred backlog was already flushed this
        # process (driver memory only — after a restart the flush re-runs
        # once and the committed-seq filter makes it a no-op)
        self._flushed: set[tuple[str, str]] = set()
        # in-memory ledger high-water (see checkpoints()): folded lazily
        # on first read, so construction stays O(1) at any ledger size
        self._ledger_lock = threading.Lock()
        self._hw: dict[tuple[str, str], str] | None = None
        self._hw_files: dict[str, int] = {}  # ledger .json name -> inode
        os.makedirs(self._ledger_dir(), exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _ledger_dir(self) -> str:
        return os.path.join(self.checkpoint_root, self.app, "ledger")

    def _sink_dlq_dir(self) -> str:
        """Dead-letter area for whole batches whose sink raised under
        CommitConfig(on_sink_error="dlq") — envelope rows, replayable."""
        return os.path.join(self.checkpoint_root, self.app, "sink_dlq")

    def _deferred_dir(self) -> str:
        """Durable holding area for reshard-deferred child rows (see
        ShardLineage). Two subdirs: ``data/`` holds the deferred rows
        (namespaced ``s-<schema-hash>/b-<generation>-<batch_id>/``; each
        gated batch OVERWRITES its own subdir so crash-replay cannot
        duplicate rows, and the gate-open flush batch-reads only the
        current schema's namespace), ``tick/`` holds one-row sentinel
        files whose only job is
        to keep the streaming query producing microbatches while a gate
        holds rows back (the loopback source reads ``tick/``, never the
        data). Nothing buffers on the driver."""
        return os.path.join(self.checkpoint_root, self.app, "deferred")

    def _deferred_data_dir(self) -> str:
        return os.path.join(self._deferred_dir(), "data")

    def _deferred_schema_dir(self, schema) -> str:
        """Schema-fingerprinted namespace under ``data/``: deferred rows
        carry whatever schema the caller's transform produced, and the
        area is shared across engine generations — a flush must never
        read files persisted under a DIFFERENT transformed schema with
        the current one (silent null-fill / read failure, the r7
        advisory). Each distinct schema gets its own subdir; the flush
        reads only the current schema's subdir and fails loudly if a
        foreign subdir still holds live rows.

        The fingerprint hashes only (name, dataType) pairs with
        nullability and field metadata stripped recursively (r9
        advisory): a benign nullability flip between engine generations
        (a Spark upgrade, a plan change marking a column nullable) must
        NOT re-namespace a still-pending backlog — the data is fully
        readable with the current schema, and a spurious new s-<hash>
        would make the old namespace look foreign and kill the query."""
        import hashlib

        h = hashlib.sha256(
            _canonical_schema(schema).json().encode()
        ).hexdigest()[:12]
        return os.path.join(self._deferred_data_dir(), f"s-{h}")

    def _deferred_schema_dirs(self) -> list[str]:
        data_dir = self._deferred_data_dir()
        if not os.path.isdir(data_dir):
            return []
        return sorted(
            e.path
            for e in os.scandir(data_dir)
            if e.is_dir() and e.name.startswith("s-")
        )

    def _deferred_rows_ahead(self, path: str) -> int:
        """1 if ``path`` holds any row still AHEAD of its shard's
        committed mark, else 0 — one bounded Spark job (inferred schema;
        only the three key columns are read). Used on the rare
        schema-change path to distinguish a genuinely pending foreign
        backlog from drained-and-committed files awaiting compaction."""
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(path)
            .select("stream", "shard_id", "sequence_number")
            .join(F.broadcast(self._committed_df()), ["stream", "shard_id"], "left")
            .filter(F.expr(self._AHEAD_SQL))
            .limit(1)
            .count()
        )

    def _deferred_tick_dir(self) -> str:
        return os.path.join(self._deferred_dir(), "tick")

    def _ckpt_dir(self) -> str:
        # one WAL per query generation: a refresh()ed query has a new
        # source set, and Spark restores WAL offsets by source ordinal —
        # reusing the old WAL would alias the new sources onto the old
        # sources' progress. The cross-generation durable state is the
        # ledger (per-(stream, shard) high-water marks), mirroring how
        # the reference keys checkpoints by stream+shard, not by query.
        return os.path.join(self.checkpoint_root, self.app, f"wal-{self._generation}")

    # -- source construction ----------------------------------------------
    def consume(
        self,
        sources: list[StreamSource],
        lineage: list[ShardLineage] | None = None,
    ) -> DataFrame:
        """Multi-stream merged envelope (O4: N streams → one channel).

        Returns a *streaming* DataFrame in RECORD_SCHEMA; the caller
        attaches transformations and hands a sink to ``run()``.

        ``lineage`` opts into reshard-aware delivery: rows of a child
        shard are withheld from the sink until the ledger shows its
        parent committed through ``parent_end`` (per-key ordering across
        a reshard boundary — the reference's open TODO, kinesumer.go:314).
        Blocked rows take zero driver memory: the delivery wrapper
        writes them to the deferred parquet area and a loopback stream
        source (appended here) re-admits them in a later microbatch once
        the gate opens. Deferred re-delivery is at-least-once, same as
        the engine's crash-replay contract.
        """
        from kinesumer_spark.catalog import parquet_file_schema
        from kinesumer_spark.streaming.envelope import EVENTS_RAW_SCHEMA

        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp normalization (NTZ cast) is session-tz dependent;
        # pin UTC so a caller-built non-UTC session cannot shift instants
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        self._streams = {s.name: s for s in sources}
        merged: DataFrame | None = None
        for s in sources:
            if s.format != "parquet":
                # non-file source path: read by format name and adapt to
                # the envelope; the rest of the engine (run/commit/lag/
                # replay/lineage) never knows the difference
                reader = self.spark.readStream.format(s.format)
                for k, v in (s.options or {}).items():
                    reader = reader.option(k, v)
                env = _generic_to_envelope(reader.load(), stream=s.name)
                merged = env if merged is None else merged.unionByName(env)
                continue
            # footer-read physical schema per source — the generator's ts
            # encoding has varied across rounds (nanos-long vs NTZ µs).
            # An EMPTY source dir (consumer started before the producer,
            # the normal Kinesis startup order) has no footer to probe:
            # fall back to the logical envelope schema, which
            # normalize_event_ts passes through unchanged. The fallback
            # is taken ONLY for the genuinely-empty case — a corrupt
            # footer or permission error must surface, not silently
            # degrade; and the fallback schema (ts TimestampType) does
            # NOT cover late-arriving TIMESTAMP(NANOS) files, which
            # surface as LongType under nanosAsLong and would fail the
            # fixed-schema stream read.
            if _dir_has_data_files(s.path):
                schema = parquet_file_schema(self.spark, s.path)
            else:
                schema = EVENTS_RAW_SCHEMA
            reader = self.spark.readStream.schema(schema)
            if s.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger", s.max_files_per_trigger)
            raw = reader.parquet(s.path)
            env = events_to_envelope(raw, stream=s.name)
            merged = env if merged is None else merged.unionByName(env)
        assert merged is not None, "at least one stream required"
        self._lineage = {
            (e.stream, e.child): [] for e in (lineage or [])
        }
        for e in lineage or []:
            # merge reshard = two edges per child; admission waits on all
            self._lineage[(e.stream, e.child)].append((e.parent, e.parent_end))
        if self._lineage:
            os.makedirs(self._deferred_data_dir(), exist_ok=True)
            os.makedirs(self._deferred_tick_dir(), exist_ok=True)
            # the loopback carries only 1-row wakeup sentinels (dropped
            # by the admission gate before the sink); deferred DATA is
            # batch-read once when the child's gate opens, so per-shard
            # order survives the deferral (see _admit)
            loopback = (
                self.spark.readStream.schema(RECORD_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self._deferred_tick_dir())
            )
            merged = merged.unionByName(loopback)
        return merged

    # -- mark / commit ledger ---------------------------------------------
    @staticmethod
    def _seq_order_key(seq: str) -> tuple[int, str]:
        """Numeric ordering key for decimal sequence-number strings:
        (length, lexicographic) orders unpadded decimals correctly
        ('9' < '10') without parsing — Kinesis sequence numbers run to
        ~56 digits, past any fixed-width integer/decimal type. Identical
        ordering to the padded internal envelope (equal lengths fall back
        to lexicographic)."""
        return (len(seq), seq)

    def mark(self, stream: str, shard_id: str, sequence_number: str) -> None:
        """Manual offset staging — MarkRecord parity (kinesumer.go:746-764)
        including its validation set: empty sequence numbers and unknown
        streams are rejected (errEmptySequenceNumber / errInvalidStream).
        Marks accumulate in memory until :meth:`commit_marks`.

        Deviation from the reference: MarkRecord OVERWRITES with the
        last-marked value (kinesumer.go:764), trusting the caller's
        ordering; this engine keeps the numeric maximum instead, because
        microbatch sinks may process a shard's rows on several tasks with
        no cross-task ordering — a last-write-wins mark could regress the
        high-water mark that commit() persists."""
        if not sequence_number:
            raise ValueError("sequence number must not be empty")
        if self._streams and stream not in self._streams:
            raise ValueError(f"invalid stream {stream!r}: not subscribed")
        with self._lock:
            if not hasattr(self, "_marks"):
                self._marks: dict[tuple[str, str], str] = {}
            k = (stream, shard_id)
            self._marks[k] = _max_seq(self._marks.get(k), sequence_number)

    def _monotonic_marks(
        self, marks: dict[tuple[str, str], str]
    ) -> dict[tuple[str, str], str]:
        """Max-merge new marks against the ledger's current high-water:
        a crash-replayed (or deferred-then-flushed) batch re-committing
        older sequence numbers must never REGRESS a shard's committed
        mark, so every ledger file holds marks at or above every earlier
        file's for its shards."""
        existing = self.checkpoints()
        return {
            k: _max_seq(existing.get(k), seq) for k, seq in marks.items()
        }

    def _write_ledger_file(
        self,
        name: str,
        batch_id: int,
        marks: dict[tuple[str, str], str],
        **extra,
    ) -> None:
        """Atomic, torn-write-safe ledger file: write to a ``.tmp``
        sibling (never picked up by checkpoints(), which filters on the
        ``.json`` suffix), fsync so a machine crash cannot leave the
        bytes unflushed behind the rename, then ``os.replace``. A crash
        at ANY byte offset therefore leaves either the old ledger state
        or the complete new file — the property
        tests/test_streaming_engine.py::test_ledger_crash_at_every_step
        exercises every interruption point, mirroring the reference's
        commit-failure table tests (kinesumer_test.go:466-551)."""
        path = os.path.join(self._ledger_dir(), name)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "app": self.app,
                    "batch_id": batch_id,
                    **extra,
                    "checkpoints": [
                        {
                            "stream": s,
                            "shard_id": sh,
                            "sequence_number": seq,
                        }
                        for (s, sh), seq in sorted(marks.items())
                    ],
                },
                f,
            )
            f.flush()
            os.fsync(f.fileno())
            inode = os.fstat(f.fileno()).st_ino
        os.replace(tmp, path)
        self._note_ledger_write(name, inode, marks)

    def _note_ledger_write(
        self, name: str, inode: int, marks: dict[tuple[str, str], str]
    ) -> None:
        """Fold this handle's own just-renamed file into the in-memory
        high-water. Runs only after ``os.replace`` succeeded; a crash
        before it leaves a file the next listing does not know, which
        re-folds the whole ledger. Overwriting an existing name (a
        replayed batch id, a second compaction) may drop marks the old
        file held, so it too re-folds instead of merging."""
        with self._ledger_lock:
            if self._hw is None or name in self._hw_files:
                self._hw = None
                return
            self._hw_files[name] = inode
            for k, seq in marks.items():
                self._hw[k] = _max_seq(self._hw.get(k), seq)

    def commit_marks(self, batch_id: int) -> None:
        """Flush manually-staged marks to the ledger — Commit() parity
        (kinesumer.go:767-789; marks are kept after commit, idempotent
        re-put, exactly like the reference's offsets map)."""
        with self._lock:
            marks = dict(getattr(self, "_marks", {}))
        self._write_ledger_file(
            f"batch-{self._generation:06d}-{batch_id:020d}.json",
            batch_id,
            self._monotonic_marks(marks),
        )

    @staticmethod
    def _batch_marks(batch_df: DataFrame) -> DataFrame:
        """Highest sequence number per (stream, shard) in one batch.

        A persisted batch (``run()``'s auto-commit path) is aggregated
        in ONE partition: reading the cache in one task and aggregating
        there needs no Exchange, so the job is one stage, not a map
        stage plus a shuffle-read stage. Any other DataFrame keeps the
        distributed plan, so an unpersisted caller batch does not have
        its whole upstream recomputed in a single task."""
        src = batch_df.coalesce(1) if batch_df.is_cached else batch_df
        # numeric max over decimal strings of any length: order by
        # (length, string) — plain F.max would rank '9…' above '10…' for
        # unpadded connector sequence numbers (decimal casts can't help:
        # Kinesis sequence numbers exceed decimal(38,0))
        return src.groupBy("stream", "shard_id").agg(
            F.max_by(
                "sequence_number",
                F.struct(
                    F.length("sequence_number").alias("l"),
                    F.col("sequence_number").alias("s"),
                ),
            ).alias("sequence_number")
        )

    def commit(self, batch_df: DataFrame, batch_id: int) -> None:
        """Write per-(stream, shard) high-water marks for one batch —
        the ShardCheckPoint row set of statemodel.go:40-45. Idempotent
        per batch_id (overwrite), like the reference's re-put commits."""
        marks = self._batch_marks(batch_df).collect()
        merged = self._monotonic_marks(
            {(r["stream"], r["shard_id"]): r["sequence_number"] for r in marks}
        )
        # generation in the name: batch ids restart at 0 after refresh(),
        # and a same-named file would overwrite the previous generation's
        # committed marks. Atomic + fsynced, crash-safe like a DDB
        # batch-put (see _write_ledger_file).
        self._write_ledger_file(
            f"batch-{self._generation:06d}-{batch_id:020d}.json", batch_id, merged
        )

    # -- reshard admission gate (ShardLineage) -----------------------------
    _TICK_SHARD = "\x00tick"  # wakeup sentinel, never reaches the sink

    def _parent_complete(self, cps, stream: str, parent: str, end: str) -> bool:
        cur = cps.get((stream, parent))
        return cur is not None and self._seq_order_key(cur) >= self._seq_order_key(end)

    def _blocked_children(self, cps) -> list[str]:
        """(stream, child) keys whose parent(s) are not yet committed
        through parent_end — one ledger read per microbatch, the same
        cadence as the reference's checkpoint lookups (O14)."""
        return [
            f"{stream}\x1f{child}"
            for (stream, child), parents in self._lineage.items()
            if not all(
                self._parent_complete(cps, stream, p, end) for p, end in parents
            )
        ]

    def _write_tick(self) -> None:
        """Append one sentinel row to the tick area: the loopback source
        presents it next trigger, guaranteeing another microbatch while
        any gate holds rows deferred (without a tick, a gate that opens
        on the LAST batch of available data would strand its backlog
        until unrelated new data arrives).

        The sentinel flows through the caller's transformations before
        _admit drops it (the loopback unions at consume() level), so it
        carries an inert-but-valid payload ('{}' bytes, empty partition
        key, epoch arrival) rather than NULLs that a JSON decode or
        NOT-NULL assertion downstream would trip over."""
        self.spark.createDataFrame(
            [
                (
                    self._TICK_SHARD,
                    self._TICK_SHARD,
                    "0",
                    "",
                    bytearray(b"{}"),
                    datetime.datetime(1970, 1, 1),
                )
            ],
            RECORD_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(self._deferred_tick_dir())

    def _admit(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Split a microbatch at the reshard boundary, preserving
        per-shard order ACROSS the deferral:

        - rows of still-blocked child shards go durably to the deferred
          data area, OVERWRITING a per-(generation, batch_id) subdir —
          a foreachBatch replay after a crash rewrites the same subdir,
          so duplicate persisted copies within a generation are
          structurally impossible. Caller transforms that fan one
          record out to several DISTINCT rows sharing a sequence_number
          (e.g. explode) survive the deferral intact — the r7
          advisory's asymmetric-loss hole; replay dedup at a gate-open
          flush is BACKLOG-side only (r9 advisory — main-path rows are
          never collapsed, so identical fan-out rows on never-deferred
          shards keep their multiplicity), and covers the two replay
          paths per-batch overwrite alone cannot: a cross-generation
          restart re-deferring the same rows under a new batch-dir name
          (collapsed to the within-subdir multiplicity), and a replay
          where the gate opened between the original batch and the
          replay (stale subdir + main-path copy in one batch; the
          backlog copy yields to the main one). A tick
          sentinel keeps microbatches coming while rows are parked;
        - when a child's gate opens, its ENTIRE deferred backlog is
          batch-read and delivered in that one microbatch, so no older
          deferred row can trail a newer main-source row into a later
          batch — the ordering hole the r6 advisory flagged;
        - rows of open-gated children at or below the committed
          high-water are dropped (idempotent flush replay after a crash
          or restart; commit is additionally monotonic, see
          _monotonic_marks, so a replayed batch can't regress marks).

        The commit that follows sees only admitted rows, so a child's
        high-water never advances before its parent closes."""
        batch_df = batch_df.filter(F.col("shard_id") != self._TICK_SHARD)
        cps = self.checkpoints()
        blocked = self._blocked_children(cps)
        key = F.concat_ws("\x1f", F.col("stream"), F.col("shard_id"))
        schema_dir = self._deferred_schema_dir(batch_df.schema)
        if blocked:
            # one write job, unconditionally: the overwrite of this
            # batch's own subdir doubles as the emptiness check (its
            # footers are read back driver-side, a few files), so no
            # separate limit(1).count() job runs per gated batch
            batch_dir = os.path.join(
                schema_dir, f"b-{self._generation:06d}-{batch_id:020d}"
            )
            batch_df.filter(key.isin(blocked)).write.mode("overwrite").parquet(
                batch_dir
            )
            batch_df = batch_df.filter(~key.isin(blocked))
            deferred_now = _parquet_live_rows(batch_dir)
            if deferred_now == 0:
                # nothing deferred this batch: drop the empty overwrite
                # dir immediately, so a long-held gate accumulates one
                # subdir per batch WITH rows, never one per batch (r8
                # review: the walk below must stay backlog-bounded)
                for root, _dirs, files in os.walk(batch_dir, topdown=False):
                    for f_name in files:
                        os.remove(os.path.join(root, f_name))
                    os.rmdir(root)
            # rows parked this batch imply live backlog — skip the scan
            if deferred_now > 0 or _parquet_live_rows(
                self._deferred_data_dir()
            ) > 0:
                self._write_tick()
        blocked_set = set(blocked)
        open_gated = [
            (s, c) for (s, c) in self._lineage if f"{s}\x1f{c}" not in blocked_set
        ]
        if open_gated:
            to_flush = [k for k in open_gated if k not in self._flushed]
            if to_flush:
                foreign = [
                    d
                    for d in self._deferred_schema_dirs()
                    if d != schema_dir
                    and _parquet_live_rows(d) > 0
                    # footer rows alone are not enough to abort the
                    # query: a drained-and-committed old-schema backlog
                    # keeps its (dead) files until compact_deferred, so
                    # only rows still AHEAD of the committed marks make
                    # a namespace genuinely foreign (r8 review) — the
                    # extra job runs only on the rare schema-change path
                    and self._deferred_rows_ahead(d) > 0
                ]
                if foreign:
                    raise RuntimeError(
                        "deferred backlog persisted under a different "
                        f"transformed schema ({foreign}); drain it with the "
                        "original transform or compact_deferred() before "
                        "changing the schema of a gated stream"
                    )
            if to_flush and _parquet_live_rows(schema_dir) > 0:
                # read with the BATCH's schema, not RECORD_SCHEMA: the
                # caller may run() a transformed records DF, and the
                # deferred area holds whatever schema the batches carry
                # (the gate only requires the three key columns).
                flush_keys = [f"{s}\x1f{c}" for s, c in to_flush]
                backlog = (
                    self.spark.read.schema(batch_df.schema)
                    .option("recursiveFileLookup", "true")
                    .parquet(schema_dir)
                    .filter(key.isin(flush_keys))
                )
                # r9 (advisory): replay dedup must never touch MAIN-path
                # rows — a transform legitimately emitting identical rows
                # (explode of repeated values) on never-deferred shards
                # delivers every copy even in a flush batch. The two
                # replay shapes the old full-union dropDuplicates()
                # covered are handled backlog-side only:
                #  (a) cross-generation restart re-deferring the same
                #      rows under a new b-<gen>-<id> subdir: replay
                #      copies whole batches, so per row-content the true
                #      fan-out multiplicity is the count WITHIN one
                #      subdir — collapse across subdirs to that max;
                #  (b) gate opened between the crashed attempt and its
                #      replay (stale subdir + main-path copy in ONE
                #      batch): drop backlog content that also arrived on
                #      the main path this batch — the main copy carries
                #      the same fan-out multiplicity, re-derived by the
                #      same transform (null-safe match, else NULL-bearing
                #      rows would anti-join-survive and double-deliver).
                cols = batch_df.columns

                def _fresh(base: str) -> str:
                    # caller transforms own the column namespace — temp
                    # names must not collide with theirs
                    while base in cols:
                        base += "_"
                    return base

                c_sub, c_n, c_i = (
                    _fresh("_ks_subdir"),
                    _fresh("_ks_n"),
                    _fresh("_ks_i"),
                )
                collapsed = (
                    backlog.withColumn(
                        c_sub,
                        F.regexp_extract(F.input_file_name(), r"(b-[^/]+)/", 1),
                    )
                    .groupBy(*cols, c_sub)
                    .agg(F.count(F.lit(1)).alias(c_n))
                    .groupBy(*cols)
                    .agg(F.max(c_n).alias(c_n))
                    .withColumn(
                        c_i, F.explode(F.expr(f"sequence(1, `{c_n}`)"))
                    )
                    .drop(c_n, c_i)
                )
                from functools import reduce as _reduce

                cond = _reduce(
                    lambda a, b: a & b,
                    [
                        F.col(f"_ks_bk.`{c}`").eqNullSafe(F.col(f"_ks_mn.`{c}`"))
                        for c in cols
                    ],
                )
                # backlog content can only collide with main rows on the
                # SAME flushing shard (full-row match includes shard_id),
                # so the anti-join's right side is the flush-shard slice
                # of the batch — usually empty, non-empty only on replay;
                # the never-deferred bulk of the batch stays out of this
                # shuffle entirely
                fresh = (
                    collapsed.alias("_ks_bk")
                    .join(
                        batch_df.filter(key.isin(flush_keys)).alias("_ks_mn"),
                        cond,
                        "left_anti",
                    )
                )
                batch_df = batch_df.unionByName(fresh)
            self._flushed.update(to_flush)
            committed = [
                (s, c, cps[(s, c)]) for (s, c) in open_gated if (s, c) in cps
            ]
            if committed:
                cdf = self.spark.createDataFrame(
                    committed,
                    schema="stream string, shard_id string, committed_seq string",
                )
                batch_df = (
                    batch_df.join(
                        F.broadcast(cdf), ["stream", "shard_id"], "left"
                    )
                    .filter(F.expr(self._AHEAD_SQL))
                    .drop("committed_seq")
                )
        return batch_df

    def run(
        self,
        records: DataFrame,
        sink: Callable[[DataFrame, int], None],
        query_name: str = "consume",
        trigger: dict | None = None,
    ):
        """Start the delivery query: user sink + auto-commit ledger in one
        foreachBatch (the reference's records-channel + auto-mark of the
        batch's last record, kinesumer.go:551-554, :656-658).

        ``trigger`` is passed to ``writeStream.trigger(**trigger)``:
        ``{"availableNow": True}`` gives the bounded-backfill mode (drain
        everything currently in the source, respecting
        maxFilesPerTrigger batching, then stop on its own — the
        production catch-up pattern); ``{"processingTime": "5 seconds"}``
        mirrors the reference's 5 s scan cadence (kinesumer.go:26).
        Default (None) is the continuous micro-batch default."""

        def deliver(batch_df: DataFrame, batch_id: int) -> None:
            arrived = batch_df  # the persisted handle (pre-admission)
            try:
                arrived.persist()
                if self._lineage:
                    batch_df = self._admit(batch_df, batch_id)
                try:
                    sink(batch_df, batch_id)
                except Exception as exc:
                    if self.commit_config.on_sink_error != "dlq":
                        raise
                    # poison-pill isolation: park the batch, keep flowing
                    with self._lock:
                        self._errors.append(
                            f"batch {batch_id}: sink failed, routed to DLQ: {exc}"
                        )
                    batch_df.write.mode("append").parquet(self._sink_dlq_dir())
                if self.commit_config.auto:
                    self.commit(batch_df, batch_id)
            except Exception as exc:  # error side-channel, non-blocking (O20)
                with self._lock:
                    self._errors.append(f"batch {batch_id}: {exc}")
                raise
            finally:
                arrived.unpersist()

        self._attach_listener()
        writer = (
            records.writeStream.queryName(query_name)
            .option("checkpointLocation", self._ckpt_dir())
            .foreachBatch(deliver)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        self._query = writer.start()
        with self._lock:
            self._query_ids.add(str(self._query.id))
        return self._query

    def run_ordered(
        self,
        records: DataFrame,
        fn,
        output_schema: str,
        sink: Callable[[DataFrame, int], None],
        query_name: str = "consume_ordered",
    ):
        """Delivery with the reference's per-shard ordered processing
        model: each microbatch is shuffled to shard granularity, rows
        handed to ``fn`` sorted by sequence_number, results to ``sink``."""

        def ordered_sink(batch_df: DataFrame, batch_id: int) -> None:
            sink(ordered_per_shard(batch_df, fn, output_schema), batch_id)

        return self.run(records, ordered_sink, query_name=query_name)

    # -- lifecycle ---------------------------------------------------------
    def refresh(self, sources: list[StreamSource]) -> DataFrame:
        """O18 Refresh: a Spark query's source set is fixed, so refresh is
        stop → new consume() (documented semantic gap, SURVEY.md §7)."""
        if self._query is not None:
            self._query.stop()
            self._query = None
        self._generation += 1
        return self.consume(sources)

    def errors(self) -> list[str]:
        """Error side-channel (O20) — never blocks the query."""
        with self._lock:
            return list(self._errors)

    def _attach_listener(self) -> None:
        """StreamingQueryListener capture (the O20 'listener bus' path):
        progress metrics per microbatch + terminal exceptions, without
        ever blocking the query (matches sendOrDiscardError's
        non-blocking contract, kinesumer.go:838-844)."""
        if self._listener is not None:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        engine = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with engine._lock:
                    if str(p.id) not in engine._query_ids:
                        return  # another query on the shared listener bus
                    engine._progress.append(
                        {
                            "batch_id": p.batchId,
                            "num_input_rows": p.numInputRows,
                            "name": p.name,
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                if event.exception:
                    with engine._lock:
                        if str(event.id) not in engine._query_ids:
                            return
                        engine._errors.append(f"terminated: {event.exception}")

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def progress(self) -> list[dict]:
        """Per-microbatch progress (batch id, input rows) — the
        observability the reference exposes only as log lines."""
        with self._lock:
            return list(self._progress)

    def close(self) -> None:
        """Graceful close: stop + final commit is already on disk because
        commits are per-batch (stricter than the reference's 5 s flush)."""
        if self._query is not None:
            self._query.stop()
            self._query = None
        if self._listener is not None:
            try:
                self.spark.streams.removeListener(self._listener)
            finally:
                self._listener = None

    # -- observability -----------------------------------------------------
    def checkpoints(self) -> dict[tuple[str, str], str]:
        """Highest committed sequence number per (stream, shard_id) —
        ``ListCheckPoints`` parity (statestore.go:224-257).

        Answered from an in-memory high-water map, like the reference's
        in-memory offsets (kinesumer.go:767-789). The map is the max
        fold of every ledger file, built on the first call; each commit
        then max-merges its own file in after the rename. Every call
        lists the ledger directory once (a few ms at 5,000 files, no
        file reads) and re-folds the whole ledger when the listing holds
        a ``.json`` file this handle neither folded nor wrote, or lacks
        one it knew: a second ``Engine`` on the same app, a
        ``compact_ledger`` from another handle, or a crash between a
        rename and the map update. Commits max-merge against this map,
        so no file, the sort-first ``a-snapshot.json`` included, can
        lower a mark."""
        ledger = self._ledger_dir()
        with self._ledger_lock:
            while True:
                with os.scandir(ledger) as it:
                    listing = {
                        e.name: e.inode() for e in it if e.name.endswith(".json")
                    }
                if self._hw is not None and listing == self._hw_files:
                    return dict(self._hw)
                try:
                    self._hw = _fold_ledger(ledger, listing)
                except FileNotFoundError:
                    continue  # compacted away mid-fold: list again
                self._hw_files = listing

    # predicate: envelope row strictly after its committed mark, in the
    # length-then-lexicographic order of _seq_order_key (unpadded
    # connector sequence numbers order correctly)
    _AHEAD_SQL = (
        "committed_seq IS NULL"
        " OR length(sequence_number) > length(committed_seq)"
        " OR (length(sequence_number) = length(committed_seq)"
        "     AND sequence_number > committed_seq)"
    )

    def _non_file_streams(self) -> list[str]:
        """Subscribed streams with no file backing — their history is
        not batch-re-readable, so lag()/replay_from() cannot cover them
        (the streaming consume() path still delivers them fine)."""
        return [s.name for s in self._streams.values() if s.format != "parquet"]

    def _batch_envelope(self, columns: list[str] | None = None) -> DataFrame | None:
        """Batch (non-streaming) read of every file-backed subscribed
        stream as the envelope, unioned; None when no source has data
        yet. Callers must surface ``_non_file_streams()`` explicitly —
        this helper covers only what is batch-re-readable."""
        from functools import reduce

        from kinesumer_spark.catalog import parquet_file_schema

        parts: list[DataFrame] = []
        for s in self._streams.values():
            if s.format != "parquet" or not _dir_has_data_files(s.path):
                continue
            raw = self.spark.read.schema(
                parquet_file_schema(self.spark, s.path)
            ).parquet(s.path)
            env = events_to_envelope(raw, stream=s.name)
            parts.append(env.select(*columns) if columns else env)
        if not parts:
            return None
        return reduce(lambda x, y: x.unionByName(y), parts)

    def _committed_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [(st, sh, seq) for (st, sh), seq in sorted(self.checkpoints().items())]
            or [],
            schema="stream string, shard_id string, committed_seq string",
        )

    def lag(self) -> DataFrame:
        """Per-(stream, shard) consumer lag — the operational metric the
        reference never exposes (its users read CloudWatch): committed
        high-water vs the latest sequence actually present in the
        source, plus the pending-record count.

        Distributed end to end: one batch scan per stream (narrow
        projection to the envelope key columns), a broadcast join
        against the ledger's committed marks (bounded by shard count),
        and a per-shard aggregate.

        Non-file sources (e.g. a custom Python streaming source) have no
        re-readable history: they appear as one explicit marker row
        (shard_id='<non-file source: lag unavailable>', NULL metrics)
        instead of being silently omitted."""
        marker_schema = (
            "stream string, shard_id string, committed_seq string, "
            "latest_seq string, pending_records bigint"
        )
        markers = self.spark.createDataFrame(
            [
                (name, "<non-file source: lag unavailable>", None, None, None)
                for name in self._non_file_streams()
            ]
            or [],
            schema=marker_schema,
        )
        env = self._batch_envelope(["stream", "shard_id", "sequence_number"])
        if env is None:
            return markers
        return (
            env.join(F.broadcast(self._committed_df()), ["stream", "shard_id"], "left")
            .groupBy("stream", "shard_id")
            .agg(
                F.first("committed_seq").alias("committed_seq"),
                F.max_by(
                    "sequence_number",
                    F.struct(
                        F.length("sequence_number").alias("l"),
                        F.col("sequence_number").alias("s"),
                    ),
                ).alias("latest_seq"),
                F.sum(F.expr(f"CASE WHEN {self._AHEAD_SQL} THEN 1 ELSE 0 END"))
                .cast("bigint")
                .alias("pending_records"),
            )
            .unionByName(markers)
            .orderBy("stream", "shard_id")
        )

    def replay_from(
        self,
        marks: dict[tuple[str, str], str] | None = None,
        skip_non_file: bool = False,
    ) -> DataFrame:
        """Batch redelivery of every record strictly AFTER the given
        marks (default: the ledger's committed high-water) — the
        backfill/repair reader. This is the AFTER_SEQUENCE_NUMBER
        restore (O11, kinesumer.go:716-718) exposed as a batch surface:
        repair jobs re-read exactly the un-committed tail without
        touching the streaming query's WAL, and delivery stays
        at-least-once end to end.

        Non-file sources cannot be batch-re-read, so a replay that
        would silently miss them RAISES instead; pass
        ``skip_non_file=True`` to replay only the file-backed streams.

        Distributed: batch envelope scan ⨝ broadcast marks (shard-
        bounded), filtered by the ledger ordering predicate."""
        non_file = self._non_file_streams()
        if non_file and not skip_non_file:
            raise NotImplementedError(
                "replay_from cannot re-read non-file sources "
                f"{non_file!r}; pass skip_non_file=True to replay only "
                "the file-backed streams"
            )
        env = self._batch_envelope()
        if env is None:
            return self.spark.createDataFrame([], schema=RECORD_SCHEMA)
        if marks is None:
            committed = self._committed_df()
        else:
            committed = self.spark.createDataFrame(
                [(st, sh, seq) for (st, sh), seq in sorted(marks.items())] or [],
                schema="stream string, shard_id string, committed_seq string",
            )
        return (
            env.join(F.broadcast(committed), ["stream", "shard_id"], "left")
            .filter(F.expr(self._AHEAD_SQL))
            .drop("committed_seq")
        )

    def compact_ledger(self) -> int:
        """Compact the per-batch commit files into ONE snapshot holding
        the highest mark per (stream, shard) — the ledger's answer to
        unbounded small-file growth (a month of 1 s microbatches is
        ~2.6 M files; the DynamoDB analog is a single row per shard by
        construction, statemodel.go:40-45). Returns the number of files
        removed. Crash-safe: the snapshot is written atomically first,
        old files removed after; a crash between leaves duplicates,
        which checkpoints()'s max fold resolves to the same marks.

        Safe against a live auto-committing query: the file list is
        taken FIRST and the snapshot is built from exactly those files —
        a batch commit landing between the list and the deletes is
        neither folded in nor deleted, so its marks survive untouched
        (the r6 advisory's list-then-snapshot race)."""
        old_files = sorted(
            fn
            for fn in os.listdir(self._ledger_dir())
            if fn.endswith(".json")
        )
        if not old_files:
            return 0
        # the same fold as checkpoints(), restricted to the listed files
        cps = _fold_ledger(self._ledger_dir(), old_files)
        # "a-" sorts before every "batch-…" file and cannot collide with
        # generation 0 / batch 0's own file name
        snap_name = "a-snapshot.json"
        self._write_ledger_file(snap_name, -1, cps, compacted=True)
        snap = os.path.join(self._ledger_dir(), snap_name)
        removed = 0
        for fn in old_files:
            p = os.path.join(self._ledger_dir(), fn)
            if p != snap and os.path.exists(p):
                os.remove(p)
                removed += 1
        return removed

    def compact_deferred(self) -> int:
        """Remove deferred-area files that can no longer contribute a
        delivery, returning the number removed. Two classes:

        - ``tick/`` sentinels: pure wakeup signals; any file the
          loopback has already presented is dead weight. All tick files
          are removable — but if live deferred rows remain after the
          sweep, ONE fresh sentinel is rewritten: an open-but-unflushed
          gate will never rewrite a tick itself (its batches are no
          longer blocked), so without the rewrite its backlog would
          strand until unrelated source data arrives (r7 advisory).
        - ``data/`` files: dead once every row is at or below its
          shard's committed high-water (the gate's flush filter would
          drop them all). Checked per file via the parquet footer-level
          read of just (stream, shard_id, sequence_number) — a file
          with ANY potentially-live row is kept. One job per schema
          namespace (normally one), since different transformed schemas
          cannot share a scan; emptied batch/schema subdirs are pruned.

        Maintenance API, same contract as :meth:`compact_ledger`: safe
        to run between queries; against a LIVE query it is conservative
        (marks are read first, so a concurrent commit only makes more
        files dead, never resurrects one)."""
        removed = 0
        tick_dir = self._deferred_tick_dir()
        if os.path.isdir(tick_dir):
            for e in os.scandir(tick_dir):
                if e.is_file() and not e.name.startswith((".", "_")):
                    os.remove(e.path)
                    removed += 1
        data_dir = self._deferred_data_dir()
        from urllib.parse import unquote, urlparse

        import pyarrow.parquet as pq

        for schema_dir in self._deferred_schema_dirs():
            # zero-row part files (a gated batch that deferred nothing
            # still overwrites its subdir) are dead by construction and
            # invisible to the scan below — remove from footer metadata
            for root, _dirs, files in os.walk(schema_dir):
                for name in files:
                    if name.startswith((".", "_")) or not name.endswith(".parquet"):
                        continue
                    path = os.path.join(root, name)
                    # a live gate's per-batch overwrite deletes and
                    # rewrites its b-* subdir; the file can vanish
                    # between the walk and the footer read — skip, same
                    # guard as _parquet_live_rows (r9 advisory)
                    try:
                        if pq.ParquetFile(path).metadata.num_rows == 0:
                            os.remove(path)
                            removed += 1
                    except (FileNotFoundError, OSError):
                        continue
            if _parquet_live_rows(schema_dir) == 0:
                continue  # emptied dirs are pruned below
            # per file, is any row still ahead of its shard's committed
            # mark? Only (file, liveness) pairs reach the driver —
            # file-count-bounded, not row-bounded.
            per_file = (
                # inferred schema: deferred files carry whatever schema
                # the gated batches had (possibly user-transformed);
                # liveness only needs the three key columns every batch
                # must carry
                self.spark.read.option("recursiveFileLookup", "true")
                .parquet(schema_dir)
                .select(
                    F.input_file_name().alias("file"),
                    "stream",
                    "shard_id",
                    "sequence_number",
                )
                .join(
                    F.broadcast(self._committed_df()), ["stream", "shard_id"], "left"
                )
                .groupBy("file")
                .agg(
                    F.max(F.expr(f"CASE WHEN {self._AHEAD_SQL} THEN 1 ELSE 0 END"))
                    .alias("live")
                )
                .collect()
            )
            for r in per_file:
                if r["live"] == 0:
                    path = unquote(urlparse(r["file"]).path)
                    if os.path.exists(path):
                        os.remove(path)
                        removed += 1
        # prune emptied batch/schema subdirs (and stray hidden markers);
        # bottom-up with a FRESH listing per dir so a parent whose
        # children were just removed is itself removable
        if os.path.isdir(data_dir):
            for root, _dirs, _files in os.walk(data_dir, topdown=False):
                if root == data_dir:
                    continue
                entries = os.listdir(root)
                if all(
                    e.startswith((".", "_"))
                    and os.path.isfile(os.path.join(root, e))
                    for e in entries
                ):
                    for e in entries:
                        os.remove(os.path.join(root, e))
                    os.rmdir(root)
        if _parquet_live_rows(data_dir) > 0:
            self._write_tick()
        return removed

    def consumer_state(self) -> DataFrame:
        """The state-store observability view (FIXTURES.md §1 schema;
        replaces the DynamoDB table of statemodel.go:17-53). Entities:
        'check_point' rows from the ledger, 'client' (this driver, with
        its hostname+suffix id), and one 'shard_cache' row per stream
        (stateShardCache parity, statemodel.go:17-22). A shard shows
        closed=True once it is a lineage parent committed through its
        parent_end — the CLOSED state O3 filters on; without a lineage
        manifest every file-source shard stays open."""
        cps = self.checkpoints()
        closed_by_stream = {
            (stream, p): True
            for (stream, _child), parents in self._lineage.items()
            for p, end in parents
            if self._parent_complete(cps, stream, p, end)
        }
        rows: list[dict] = [
            {
                "entity": "check_point",
                "app": self.app,
                "stream": stream,
                "shard_id": shard,
                "client_id": None,
                "sequence_number": seq,
                "shards": None,
            }
            for (stream, shard), seq in cps.items()
        ]
        per_stream: dict[str, list[str]] = {}
        for stream, shard in cps:
            per_stream.setdefault(stream, []).append(shard)
        rows.extend(
            {
                "entity": "shard_cache",
                "app": self.app,
                "stream": stream,
                "shard_id": None,
                "client_id": None,
                "sequence_number": None,
                "shards": [
                    {"id": s, "closed": closed_by_stream.get((stream, s), False)}
                    for s in sorted(shards)
                ],
            }
            for stream, shards in per_stream.items()
        )
        rows.append(
            {
                "entity": "client",
                "app": self.app,
                "stream": None,
                "shard_id": None,
                "client_id": self.client_id,
                "sequence_number": None,
                "shards": None,
            }
        )
        schema = (
            "entity string, app string, stream string, shard_id string, "
            "client_id string, sequence_number string, "
            "shards array<struct<id: string, closed: boolean>>"
        )
        return self.spark.createDataFrame(rows, schema=schema)
