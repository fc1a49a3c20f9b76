"""Partitioned replayable log as a Python streaming DataSource.

Reference: Samza's consumption model is ``SystemConsumer`` polling per
SystemStreamPartition from a checkpointed offset (samza-api/.../system/
SystemConsumer.java, SystemStreamPartition.java), with ``OffsetManager``
persisting per-SSP offsets (samza-core/.../checkpoint/OffsetManager.java)
and startpoints seeding them (samza-api/.../startpoint/*.java).

Spark-native equivalent: a DataSource V2 (Python API, Spark 4) whose
stream reader exposes exactly that contract —

* the log is a directory of per-partition append-only JSONL files
  (``part-<k>.jsonl``), each record ``{"key", "value", "timestamp_ms"}``
  — the Kafka wire shape :func:`samza_spark.sources.descriptors.
  from_kafka_records` already decodes;
* offsets are per-partition record ordinals, tracked in a producer-
  maintained ``_manifest.json`` so ``latestOffset`` is an O(#partitions)
  manifest read, never a log scan (the role of Kafka's index files —
  at scale the driver must not re-count a 100 TB log every trigger);
* ``partitions(start, end)`` emits one InputPartition per SSP with a
  half-open ordinal range — executors read their file slice in
  parallel, so parallelism == partition count exactly like the
  reference's container/task assignment;
* Spark's own streaming offset log plays OffsetManager: after a restart
  the engine replays from the checkpointed offset dict, giving the same
  at-least-once-with-checkpointed-offsets contract (exactly-once into
  idempotent sinks);
* the ``startpoint`` option maps Samza startpoints: ``oldest`` (0 per
  partition), ``upcoming`` (manifest counts at query start),
  ``specific`` (explicit JSON offsets dict), ``timestamp``
  (+ ``startpointTimestampMs`` — earliest offset with timestamp >=
  target per partition, resolved through the block timestamp index the
  producer maintains: the Kafka ``.timeindex`` / ``offsetsForTimes``
  analog, so resolution scans one append block, never the log).

The batch reader reads the whole log (bounded source), so the same
format serves ``spark.read`` and ``spark.readStream``.

Schema (fixed, wire-shaped)::

    partition int, offset long, key string, value string, timestamp_ms long
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = "partition int, offset long, key string, value string, timestamp_ms long"

_MANIFEST = "_manifest.json"
_TS_INDEX = "_ts_index.json"


# -- producer helpers (the SystemProducer analog) ---------------------------


def _write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON atomically: readers see the old
    file or the new one, never a partial write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _manifest_path(log_dir: str) -> str:
    return os.path.join(log_dir, _MANIFEST)


def read_manifest(log_dir: str) -> dict[int, int]:
    """Per-partition record counts (the high-water marks)."""
    try:
        with open(_manifest_path(log_dir)) as f:
            raw = json.load(f)
    except FileNotFoundError:
        return {}
    return {int(k): int(v) for k, v in raw.items()}


def _ts_index_path(log_dir: str) -> str:
    return os.path.join(log_dir, _TS_INDEX)


def read_ts_index(log_dir: str) -> "dict[int, list[list[int]]]":
    """Per-partition ``[(block_start_ordinal, block_max_ts_ms), ...]`` —
    the Kafka ``.timeindex`` analog: one entry per producer append, so a
    timestamp startpoint resolves by scanning ONE block, not the log."""
    try:
        with open(_ts_index_path(log_dir)) as f:
            raw = json.load(f)
    except FileNotFoundError:
        return {}
    return {int(k): [[int(a), int(b)] for a, b in v] for k, v in raw.items()}


def append_records(
    log_dir: str,
    partition: int,
    records: "list[tuple[str | None, str, int]]",
) -> int:
    """Append ``(key, value, timestamp_ms)`` records to one partition's
    log file and advance its manifest high-water mark. Returns the new
    count. Appends are atomic per call (single write + manifest rewrite)
    — the single-writer-per-partition discipline the reference's
    producers follow. Each append also adds a (start_ordinal, max_ts)
    entry to the timestamp index serving ``startpoint=timestamp``."""
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, f"part-{partition}.jsonl")
    with open(path, "a", encoding="utf-8") as f:
        for key, value, ts in records:
            f.write(
                json.dumps(
                    {"key": key, "value": value, "timestamp_ms": int(ts)},
                    ensure_ascii=True,
                )
                + "\n"
            )
    counts = read_manifest(log_dir)
    start = counts.get(partition, 0)
    counts[partition] = start + len(records)
    if records:
        idx = read_ts_index(log_dir)
        idx.setdefault(partition, []).append(
            [start, max(int(ts) for _, _, ts in records)]
        )
        _write_json(_ts_index_path(log_dir), {str(k): v for k, v in idx.items()})
    _write_json(_manifest_path(log_dir), {str(k): v for k, v in counts.items()})
    return counts[partition]


# -- readers ----------------------------------------------------------------


class _RangePartition(InputPartition):
    def __init__(self, log_dir: str, partition: int, start: int, end: int):
        self.log_dir = log_dir
        self.partition = partition
        self.start = start
        self.end = end


def _read_range(part: _RangePartition) -> Iterator[tuple]:
    path = os.path.join(part.log_dir, f"part-{part.partition}.jsonl")
    if part.end <= part.start or not os.path.exists(path):
        return
    with open(path, encoding="utf-8") as f:
        for off, line in enumerate(f):
            if off >= part.end:
                break
            if off < part.start:
                continue
            rec = json.loads(line)
            yield (
                part.partition,
                off,
                rec.get("key"),
                rec.get("value"),
                rec.get("timestamp_ms"),
            )


class SamzaLogBatchReader(DataSourceReader):
    def __init__(self, options):
        self.log_dir = options["path"]

    def partitions(self) -> Sequence[InputPartition]:
        counts = read_manifest(self.log_dir)
        return [
            _RangePartition(self.log_dir, p, 0, n) for p, n in sorted(counts.items())
        ] or [_RangePartition(self.log_dir, 0, 0, 0)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _read_range(partition)


class SamzaLogStreamReader(DataSourceStreamReader):
    """Per-SSP offset-range micro-batch reader.

    Offsets are dicts ``{str(partition): next_ordinal}`` — JSON-stable,
    which is what Spark persists in the checkpoint offset log. New
    partitions appearing mid-stream start at 0 (oldest), matching the
    reference's handling of repartition-free topic growth (a partition
    is only ever appended)."""

    def __init__(self, options):
        self.log_dir = options["path"]
        self.startpoint = options.get("startpoint", "oldest")
        self.startpoint_offsets = options.get("startpointoffsets")
        self.startpoint_ts_ms = options.get("startpointtimestampms")
        self.max_per_trigger = int(options.get("maxrecordspertrigger", 0)) or None
        # Last batch-end offsets this reader planned/committed. Pacing is
        # applied in latestOffset() — the offset Spark COMMITS — never in
        # partitions(): clamping the read range below the committed end
        # offset silently skips the records in between, forever.
        self._last_end: dict[str, int] | None = None

    def initialOffset(self) -> dict:
        counts = read_manifest(self.log_dir)
        if self.startpoint == "oldest":
            off = {str(p): 0 for p in counts}
        elif self.startpoint == "upcoming":
            off = {str(p): n for p, n in counts.items()}
        elif self.startpoint == "specific":
            off = {
                str(k): int(v)
                for k, v in json.loads(self.startpoint_offsets or "{}").items()
            }
        elif self.startpoint == "timestamp":
            # StartpointTimestamp (samza-api/.../startpoint/
            # StartpointTimestamp.java) == Kafka offsetsForTimes: per
            # partition, the EARLIEST offset whose timestamp >= target.
            # The block timestamp index narrows the scan to one producer
            # append (the .timeindex role) — never a full log read.
            if self.startpoint_ts_ms is None:
                raise ValueError(
                    "startpoint=timestamp needs option startpointTimestampMs"
                )
            target = int(self.startpoint_ts_ms)
            idx = read_ts_index(self.log_dir)
            off = {}
            for p, n in counts.items():
                blocks = idx.get(p, [])
                # first block that can contain a qualifying record
                # (entries are append-ordered; max_ts is monotone for
                # monotone producers, the same assumption Kafka's time
                # index makes)
                scan_from = None
                for start_ord, max_ts in blocks:
                    if max_ts >= target:
                        scan_from = start_ord
                        break
                if scan_from is None:
                    off[str(p)] = n  # nothing at/after target -> upcoming
                    continue
                found = n
                for row in _read_range(
                    _RangePartition(self.log_dir, p, scan_from, n)
                ):
                    if int(row[4]) >= target:
                        found = row[1]
                        break
                off[str(p)] = found
        else:
            raise ValueError(f"unknown startpoint {self.startpoint!r}")
        self._last_end = dict(off)
        return off

    def latestOffset(self) -> dict:
        counts = read_manifest(self.log_dir)
        latest = {str(p): n for p, n in counts.items()}
        if self.max_per_trigger is None or self._last_end is None:
            # No pacing, or first trigger after a checkpoint restart (the
            # planner worker is fresh and initialOffset is not re-called,
            # so the committed start is unknown until partitions() runs):
            # report the true high-water mark — one unpaced batch, but
            # every record is delivered exactly once.
            return latest
        paced = {}
        for p_str, hi in latest.items():
            lo = self._last_end.get(p_str, 0)
            paced[p_str] = min(int(hi), max(lo, 0) + self.max_per_trigger)
        return paced

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # end is the offset Spark will commit for this batch — read ALL of
        # [start, end); pacing already happened when end was chosen.
        self._last_end = {str(k): int(v) for k, v in end.items()}
        out = []
        for p_str, hi in end.items():
            lo = int(start.get(p_str, 0))
            hi = int(hi)
            if hi > lo:
                out.append(_RangePartition(self.log_dir, int(p_str), lo, hi))
        # Spark requires >= 1 partition per planned batch; an empty range
        # yields no rows
        return out or [_RangePartition(self.log_dir, 0, 0, 0)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _read_range(partition)

    def commit(self, end: dict) -> None:
        # Spark's checkpoint offset log is the durable OffsetManager; the
        # source itself is immutable so there is nothing to acknowledge.
        # Track the committed end so pacing stays anchored even if a
        # trigger plans no partitions.
        self._last_end = {str(k): int(v) for k, v in end.items()}


class SamzaLogDataSource(DataSource):
    """``spark.dataSource.register(SamzaLogDataSource)`` then
    ``spark.read.format("samza_log").option("path", d)`` or
    ``spark.readStream.format("samza_log")...``."""

    @classmethod
    def name(cls) -> str:
        return "samza_log"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> SamzaLogBatchReader:
        return SamzaLogBatchReader(self.options)

    def streamReader(self, schema) -> SamzaLogStreamReader:
        return SamzaLogStreamReader(self.options)


# -- producer / sink ---------------------------------------------------------

_TXN = "_txn.json"


def _txn_path(log_dir: str) -> str:
    return os.path.join(log_dir, _TXN)


def read_txn(log_dir: str) -> dict:
    """Sink transaction state: ``committed`` (sink_id -> last committed
    batch id) and ``intent`` (the write-ahead record of an append in
    flight: pre-append byte sizes per partition file)."""
    try:
        with open(_txn_path(log_dir)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {"committed": {}, "intent": None}


def recover_log(log_dir: str) -> "dict | None":
    """Resolve a crashed append. The MANIFEST write is the single commit
    point: if the manifest already shows the intent's planned new counts,
    the append committed and recovery rolls FORWARD (clear the intent,
    fence the batch id); otherwise it rolls BACK — truncate every
    partition file to its recorded pre-append size and prune ts-index
    blocks past the manifest. Readers were never exposed to either
    in-between state (``_read_range`` stops at the planned end and the
    planner trusts only the manifest). Returns the resolved intent, or
    None if the log was clean."""
    txn = read_txn(log_dir)
    intent = txn.get("intent")
    if not intent:
        return None
    counts = read_manifest(log_dir)
    committed = all(
        counts.get(int(p), 0) == n for p, n in intent["new_counts"].items()
    )
    if committed:
        txn["committed"][intent["sink_id"]] = int(intent["batch_id"])
    else:
        for p_str, size in intent["sizes"].items():
            path = os.path.join(log_dir, f"part-{p_str}.jsonl")
            if os.path.exists(path) and os.path.getsize(path) > size:
                with open(path, "r+b") as f:
                    f.truncate(size)
        idx = read_ts_index(log_dir)
        pruned = {
            p: [b for b in blocks if b[0] < counts.get(p, 0)]
            for p, blocks in idx.items()
        }
        _write_json(
            _ts_index_path(log_dir), {str(k): v for k, v in pruned.items() if v}
        )
    txn["intent"] = None
    _write_json(_txn_path(log_dir), txn)
    return intent


def log_sink(
    log_dir: str,
    sink_id: str = "sink",
    n_partitions: int = 4,
    key_col: str = "key",
    value_col: str = "value",
    ts_col: "str | None" = "timestamp_ms",
):
    """Transactional streaming sink onto a samza_log directory — the
    SystemProducer half of the log system (reference contract:
    samza-api/.../system/SystemProducer.java ``send`` + ``flush`` with
    TransactionalStateTaskStorageManager-style exactly-once; Kafka's
    idempotent producer is the production analog). Returns a
    ``(batch_df, batch_id) -> None`` callable for
    ``writeStream.foreachBatch``.

    Exactly-once protocol, batch-id fenced:

    1. replayed batch (id <= last committed for this ``sink_id``) -> no-op;
    2. executors stage the batch in parallel — each task writes its rows
       for partition P to a private ``.staging/`` block file plus a row
       count / max-timestamp meta (no executor ever touches the live
       log);
    3. the driver write-ahead logs an INTENT (current byte size of every
       partition file), concatenates staged blocks onto the partition
       files in deterministic (partition, stage-file-name) order, then
       commits by atomically rewriting manifest + ts-index + txn state.

    A crash between 3's steps leaves either invisible bytes past the
    manifest (rolled back by :func:`recover_log`, which the sink runs at
    the start of every batch) or a fully committed batch. Records route
    to ``pmod(xxhash64(key), n_partitions)`` — the reference's key-hash
    partitioning — with null keys hashed on the value so replay stays
    deterministic (never round-robin, which isn't).
    """
    import shutil

    from pyspark.sql import functions as F

    def write_batch(batch_df, batch_id: int) -> None:
        os.makedirs(log_dir, exist_ok=True)
        recover_log(log_dir)  # resolve any crashed append first
        txn = read_txn(log_dir)
        if int(txn["committed"].get(sink_id, -1)) >= batch_id:
            return  # replay of a committed batch -> exactly-once no-op

        stage_dir = os.path.join(log_dir, ".staging", f"{sink_id}-{batch_id}")
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.makedirs(stage_dir, exist_ok=True)

        part_expr = F.pmod(
            F.xxhash64(F.coalesce(F.col(key_col), F.col(value_col))),
            F.lit(n_partitions),
        ).cast("int")
        ts_expr = (
            F.col(ts_col).cast("long") if ts_col else F.lit(0).cast("long")
        )
        routed = batch_df.select(
            part_expr.alias("__p"),
            F.col(key_col).cast("string").alias("__k"),
            F.col(value_col).cast("string").alias("__v"),
            ts_expr.alias("__ts"),
        )

        def stage(rows):
            import json as _json
            import os as _os
            import uuid as _uuid

            handles, metas = {}, {}
            tag = _uuid.uuid4().hex[:12]
            for r in rows:
                p = int(r["__p"])
                if p not in handles:
                    handles[p] = open(
                        _os.path.join(stage_dir, f"part-{p}-{tag}.jsonl"),
                        "w",
                        encoding="utf-8",
                    )
                    metas[p] = {"count": 0, "max_ts": 0}
                handles[p].write(
                    _json.dumps(
                        {
                            "key": r["__k"],
                            "value": r["__v"],
                            "timestamp_ms": int(r["__ts"] or 0),
                        },
                        ensure_ascii=True,
                    )
                    + "\n"
                )
                metas[p]["count"] += 1
                metas[p]["max_ts"] = max(metas[p]["max_ts"], int(r["__ts"] or 0))
            for p, h in handles.items():
                h.close()
                with open(
                    _os.path.join(stage_dir, f"part-{p}-{tag}.meta"), "w"
                ) as mf:
                    _json.dump(metas[p], mf)
            return iter(())

        # repartition by target partition so each log partition is staged
        # by few tasks; the staging write is the only executor-side IO
        routed.repartition(n_partitions, "__p").rdd.mapPartitions(stage).count()

        blocks: dict[int, list] = {}
        metas: dict[str, dict] = {}
        for name in sorted(os.listdir(stage_dir)):
            if name.endswith(".jsonl"):
                p = int(name.split("-")[1])
                blocks.setdefault(p, []).append(name)
            elif name.endswith(".meta"):
                with open(os.path.join(stage_dir, name)) as mf:
                    metas[name] = json.load(mf)
        counts = read_manifest(log_dir)
        sizes, new_counts = {}, {}
        for p, names in blocks.items():
            path = os.path.join(log_dir, f"part-{p}.jsonl")
            sizes[str(p)] = os.path.getsize(path) if os.path.exists(path) else 0
            appended = sum(metas[n[:-6] + ".meta"]["count"] for n in names)
            new_counts[str(p)] = counts.get(p, 0) + appended
        # write-ahead intent: pre-append byte sizes + planned manifest
        txn["intent"] = {
            "sink_id": sink_id,
            "batch_id": batch_id,
            "sizes": sizes,
            "new_counts": new_counts,
        }
        _write_json(_txn_path(log_dir), txn)

        idx = read_ts_index(log_dir)
        for p, names in sorted(blocks.items()):
            path = os.path.join(log_dir, f"part-{p}.jsonl")
            appended, max_ts = 0, 0
            with open(path, "a", encoding="utf-8") as dst:
                for name in names:
                    with open(os.path.join(stage_dir, name), encoding="utf-8") as src:
                        shutil.copyfileobj(src, dst)
                    meta = metas[name[:-6] + ".meta"]
                    appended += meta["count"]
                    max_ts = max(max_ts, meta["max_ts"])
            start = counts.get(p, 0)
            if appended:
                counts[p] = start + appended
                idx.setdefault(p, []).append([start, max_ts])

        _write_json(_ts_index_path(log_dir), {str(k): v for k, v in idx.items()})
        # COMMIT POINT: the manifest rename makes the batch visible
        _write_json(_manifest_path(log_dir), {str(k): v for k, v in counts.items()})
        # post-commit bookkeeping (idempotent: recover_log rolls forward
        # to exactly this state if we crash before it lands)
        txn["intent"] = None
        txn["committed"][sink_id] = batch_id
        _write_json(_txn_path(log_dir), txn)
        shutil.rmtree(stage_dir, ignore_errors=True)

    return write_batch
