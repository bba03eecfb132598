"""Structured Streaming ingestion into sketch state.

The reference consumes unbounded streams through ``offer()`` one item
at a time (``cardinality/ICardinality.java:22-72``).  The Spark-native
equivalent: a Structured Streaming query whose micro-batches fold into
a persisted sketch state via the same two-level monoid merge —
``foreachBatch`` runs the batch-mode ``sketch_agg`` on each micro-batch
and merges the result into a versioned state store.

Exactly-once: the state store records the last applied ``batch_id``;
replayed micro-batches (restart after failure, which Structured
Streaming guarantees to re-deliver with the same batch_id) are skipped,
so the final state equals the uninterrupted run byte-for-byte — the
streaming twin of jobs/checkpoint.py.

``streaming_sketch_query`` returns the StreamingQuery; use
``read_state`` to get the current sketch at any time.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .agg import STATE_COL, SketchSpec, _offer, _project, collect_sketch, sketch_agg, sketch_from_bytes


class SketchStateStore:
    """Versioned PARQUET state table (the Delta/Iceberg-shaped deploy
    story, same single-writer commit protocol):

        <path>/data/v<batch_id>.parquet   immutable snapshot
                                          (blob binary, batch_id long)
        <path>/_versions/<batch_id>.json  commit marker

    A commit writes the immutable snapshot data file first, then
    atomically publishes the version marker (tmp + rename) — a reader
    resolves MAX(committed version) and can never observe a half-written
    snapshot, exactly the manifest-pointer protocol of an Iceberg/Delta
    commit (and the same emulation ``jobs/checkpoint.py`` uses for
    snapshot-pinned reads).  All IO goes through a ``StateFS`` (fs.py):
    local paths use atomic rename, hdfs://-s3a://-style URIs go through
    the JVM Hadoop FileSystem with a write-then-verify commit that never
    assumes atomic rename — ``publish`` is the single FS-dependent
    commit step either way.  History is retained, so any past state is
    still queryable by version; snapshots are plain parquet, readable by
    Spark/DuckDB/any engine, not just this library.  Structured
    Streaming guarantees one driver per query, so the single-writer
    assumption holds per state path; the stored ``batch_id`` makes
    replayed micro-batches idempotent."""

    def __init__(self, path: str, fs=None):
        from .fs import resolve_fs

        self.path = path
        self.fs = fs if fs is not None else resolve_fs(path)
        self._data_dir = self.fs.join(path, "data")
        self._vdir = self.fs.join(path, "_versions")
        self.fs.mkdirs(self._data_dir)
        self.fs.mkdirs(self._vdir)

    def versions(self) -> list[int]:
        return sorted(
            int(f[:-5]) for f in self.fs.listdir(self._vdir) if f.endswith(".json")
        )

    def read(self, version: int | None = None) -> tuple[object | None, int]:
        """Latest committed (sketch, batch_id), or a pinned ``version``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        committed = self.versions()
        if not committed:
            return None, -1
        batch_id = committed[-1] if version is None else version
        if batch_id not in committed:
            raise ValueError(f"version {batch_id} not committed (have {committed})")
        snap = json.loads(self.fs.read_bytes(self.fs.join(self._vdir, f"{batch_id:020d}.json")))
        tbl = pq.read_table(pa.BufferReader(self.fs.read_bytes(self.fs.join(self.path, snap["file"]))))
        return sketch_from_bytes(tbl.column("blob")[0].as_py()), batch_id

    def write(self, sketch, batch_id: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = f"data/v{batch_id}.parquet"
        tbl = pa.table({
            "blob": pa.array([sketch.to_bytes()], type=pa.binary()),
            "batch_id": pa.array([batch_id], type=pa.int64()),
        })
        sink = pa.BufferOutputStream()
        pq.write_table(tbl, sink)
        # snapshot in place, NOT yet committed — but verified: the
        # marker commit below makes this file load-bearing, so a torn
        # PUT here must be caught BEFORE the marker publishes it
        self.fs.publish(self.fs.join(self.path, rel), sink.getvalue().to_pybytes())
        marker = self.fs.join(self._vdir, f"{batch_id:020d}.json")
        payload = json.dumps({"batch_id": batch_id, "file": rel}).encode()
        self.fs.publish(marker, payload)  # the atomic commit point


def streaming_sketch_query(stream_df: DataFrame, col: str, spec: SketchSpec,
                           state_dir: str, checkpoint_dir: str,
                           processing_time: str | None = None, fs=None):
    """Fold a streaming DataFrame's column into a persisted sketch.

    Each micro-batch: batch-mode two-level sketch_agg (partition
    partials → merge) → monoid-merge into the stored state.  Restart
    safety: batches with id <= stored batch_id are no-ops.
    ``fs``: explicit StateFS (default: resolved from state_dir scheme).
    Trigger: ``processing_time=None`` replays what is available and
    stops (availableNow); ``processing_time='1 seconds'`` keeps the
    query up and fires a micro-batch on that cadence — the versioned
    store commits one version per fired batch under either trigger
    (tests/test_streaming.py exercises both)."""
    store = SketchStateStore(state_dir, fs=fs)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        current, last_id = store.read()
        if batch_id <= last_id:
            return  # replayed batch after restart — already applied
        # below the fan-in threshold collect_sketch folds the partials on
        # the driver: one exchange and one job fewer per micro-batch
        batch_sketch = collect_sketch(sketch_agg(batch_df, [], col, spec))
        merged = batch_sketch if current is None else current.merge(batch_sketch)
        store.write(merged, batch_id)

    trigger = {"availableNow": True} if processing_time is None else {"processingTime": processing_time}
    return (stream_df.writeStream.foreachBatch(fold).option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger).start())


def read_state(state_dir: str, fs=None):
    """Current sketch from a streaming state store (None if empty)."""
    sketch, _ = SketchStateStore(state_dir, fs=fs).read()
    return sketch


def windowed_streaming_sketch(stream_df: DataFrame, ts_col: str, duration: str,
                              col: str, spec: SketchSpec,
                              watermark: str | None = None):
    """Event-time windowed sketch state: one sketch per tumbling
    ``duration`` window of ``ts_col``, updated in Update mode.  Late
    rows are handled by the monoid itself — a late arrival simply
    merges into its window's sketch.

    Without ``watermark`` this composes ``window()`` with the per-key
    stateful fold and window state lives FOREVER (only suitable for
    bounded window domains).  With ``watermark`` (e.g. ``'1 hour'``)
    the fold runs under an EVENT-TIME TIMEOUT: once the watermark
    passes a window's end (no more rows can arrive — the operator drops
    later ones), the window emits a final row (``is_final=true``) and
    its GroupState is REMOVED, so state size tracks the number of OPEN
    windows, not stream lifetime."""
    from pyspark.sql import functions as F

    win = F.window(F.col(ts_col), duration)
    if watermark is None:
        df = stream_df.withColumn("window_start", win["start"].cast("string"))
        return keyed_streaming_sketch(df, ["window_start"], col, spec)
    timed = (stream_df.withWatermark(ts_col, watermark)
             .withColumn("window_start", win["start"].cast("string"))
             .withColumn("__wend", win["end"]))
    return _stateful_sketch(timed, ["window_start"], col, spec, event_time=(ts_col, "__wend"))


def _row(head: dict, sk, blob: bytes, **extra):
    """One output row of a stateful sketch operator: ``head`` columns,
    ``sk``'s bytes ``blob``, its cardinality estimate (NaN for kinds
    without one), then ``extra`` columns."""
    import pandas as pd

    est = float(sk.cardinality()) if hasattr(sk, "cardinality") else float("nan")
    return pd.DataFrame({**{k: [v] for k, v in head.items()}, "sketch": [blob],
                         "estimate": [est], **{k: [v] for k, v in extra.items()}})


def _fold_pdfs(sk, pdfs, spec: SketchSpec):
    """Fold an iterator of micro-batch pandas frames into sketch ``sk``
    — the update every stateful operator runs: each frame's LAST column
    (the ``_project`` input column) goes through the library's one
    Arrow update, ``agg._offer``."""
    for pdf in pdfs:
        _offer(spec, sk, pa.Array.from_pandas(pdf.iloc[:, -1]))
    return sk


def keyed_streaming_sketch(stream_df: DataFrame, keys: list[str], col: str,
                           spec: SketchSpec):
    """Per-key streaming sketch state via ``applyInPandasWithState``:
    each key group holds its serialized sketch as GroupState; every
    micro-batch folds the group's new rows (JVM-hashed, Arrow-batched)
    into the state and emits (keys..., sketch, estimate) in Update mode.

    This is the reference's per-stream ``offer()`` loop as a native
    Spark stateful operator — state lives in the state store
    (RocksDB/HDFS-backed on a cluster), so it survives restarts with
    Structured Streaming's exactly-once guarantees.
    """
    return _stateful_sketch(stream_df, keys, col, spec)


def _stateful_sketch(df: DataFrame, keys: list[str], col: str, spec: SketchSpec,
                     event_time: tuple[str, str] | None = None):
    """THE stateful fold of the keyed and windowed streaming sketches:
    per ``keys`` group, the GroupState blob folds each micro-batch's new
    rows and one (keys..., sketch, estimate) row is emitted in Update
    mode.  ``event_time`` = (watermarked column, window-end column)
    turns on eviction: the group times out once the watermark passes
    its window end, emits a last row with ``is_final=true`` and drops
    its state; every row then carries ``is_final``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # the watermarked attribute stays in the plan as a pass-through column
    prepared = _project(df, [*(event_time or ()), *keys], {STATE_COL: (col, spec)})
    final = {} if event_time is None else {"is_final": False}

    def fold(key, pdfs, state: GroupState):
        head = {k: str(v) for k, v in zip(keys, key)}
        if state.hasTimedOut:
            # watermark passed window end: finalize and EVICT
            blob = bytes(state.get[0])
            state.remove()
            yield _row(head, sketch_from_bytes(blob), blob, is_final=True)
            return
        sk = sketch_from_bytes(bytes(state.get[0])) if state.exists else spec.new()
        pdfs = [pdf for pdf in pdfs if len(pdf)]
        blob = _fold_pdfs(sk, pdfs, spec).to_bytes()
        state.update((blob,))
        if event_time and pdfs:
            # evict when the watermark passes the window end (must stay
            # strictly ahead of the current watermark)
            wend_ms = int(pd.Timestamp(pdfs[0][event_time[1]].iloc[0]).value // 1_000_000)
            state.setTimeoutTimestamp(max(wend_ms, state.getCurrentWatermarkMs() + 1))
        yield _row(head, sk, blob, **final)

    schema = "".join(f"{k} string, " for k in keys) + "sketch binary, estimate double"
    schema += ", is_final boolean" if event_time else ""
    timeout = GroupStateTimeout.EventTimeTimeout if event_time else GroupStateTimeout.NoTimeout
    return prepared.groupBy(*keys).applyInPandasWithState(fold, schema, "blob binary", "Update", timeout)
