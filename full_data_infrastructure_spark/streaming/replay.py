"""Deterministic micro-batch replay scaffolding for the streaming parity
queries — every ``streaming_*_snapshot`` builder (rollup, upsert and its
bucketed twin, SCD2 and its bucketed twin, sessionize, tumbling, sliding,
dedup, EMA, funnel) — and for the work directories of the file-layout
builders in ``operators/layout.py`` (compaction, JSON-Lines round trip
and quarantine ingest).

The streaming builders prove fold parity: a table is replayed as a REAL
``availableNow`` file stream through a streaming sink/aggregation, and the
resulting snapshot is hash-compared against a direct batch/DuckDB
computation. Doing that deterministically needs two pieces of harness:

* a work directory that outlives the returned *lazy* plan — the driver
  collects AFTER the builder returns, so the snapshot files must survive
  until then — but not the plan: every dir is registered with
  ``cache.release_persisted``, which removes it once the builder's
  returned plan (``cache.hold_dir``) is dropped, so repeated builder
  invocations don't accumulate disk. ``atexit`` removal is the backstop.
* control over micro-batch ORDER: Spark's file source orders files by
  modification time, while parallel write tasks finish in arbitrary
  order. ``ordered_file_split`` range-splits on the offset column and
  stamps strictly increasing mtimes in part-index order, so micro-batches
  replay the changelog in offset order — the per-partition ordering
  guarantee a keyed Kafka topic provides in production, which is what the
  stamping simulates.

Test scaffolding, not a production path: these parity queries exist to
prove the incremental folds are lossless, not to be the deployment shape.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame

from full_data_infrastructure_spark.cache import track_dir


def replay_workdir(prefix: str) -> str:
    """mkdtemp registered with ``cache.release_persisted``: the builder
    ties it to its returned plan with ``cache.hold_dir``, and the first
    release after that plan is dropped removes it. ``atexit`` removes
    whatever a process still holds when it exits."""
    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    track_dir(work)
    return work


def symlink_table_files(src: str, dest_dir: str) -> None:
    """Expose a parquet table as a DIRECTORY of data files for the file
    stream source (which lists one directory and does not recurse) —
    zero-copy via symlinks. Works whether the table is a single parquet
    file or a directory of part files."""
    os.makedirs(dest_dir, exist_ok=True)
    if os.path.isdir(src):
        for fname in os.listdir(src):
            if not fname.startswith(("_", ".")):
                os.symlink(os.path.join(src, fname), os.path.join(dest_dir, fname))
    else:
        os.symlink(src, os.path.join(dest_dir, os.path.basename(src)))


def write_flush_sentinel(
    sentinel: DataFrame, src_dir: str, copies: int = 1
) -> None:
    """Append ``copies`` one-row parquet files to a replay source directory
    with mtimes AFTER every existing file, so they form the final
    micro-batches.

    Append-mode event-time aggregations emit a window only once the
    watermark passes its end; real windows near the corpus max timestamp
    would otherwise stay in state forever when the stream ends. A single
    far-future sentinel row (filtered out of the snapshot by the caller)
    advances the final watermark past every real window — the replay twin
    of the watermark heartbeat a live topic provides.

    ``copies > 1`` exists for STREAM-STREAM JOINS: the engine applies a
    committed watermark with up to two micro-batches of lag before join
    state is evicted (and availableNow does not append trailing no-data
    batches for join eviction the way it does for aggregations), so the
    left-outer NULL rows of the final buffered rows would never be
    emitted with one sentinel batch. Extra sentinel batches carry the
    advanced watermark through the pipeline; each is one spare 1-row
    file, all filtered from the snapshot."""
    scratch = tempfile.mkdtemp(prefix="sentinel_", dir=os.path.dirname(src_dir))
    sentinel.coalesce(1).write.mode("overwrite").parquet(scratch)
    part = next(f for f in os.listdir(scratch) if f.startswith("part-"))
    last = max(
        os.path.getmtime(os.path.join(src_dir, f)) for f in os.listdir(src_dir)
    )
    src = os.path.join(scratch, part)
    for i in range(copies):
        flush_file = os.path.join(src_dir, f"part-zz{i}-sentinel.parquet")
        shutil.copyfile(src, flush_file)
        os.utime(flush_file, (last + 10 + i, last + 10 + i))
    shutil.rmtree(scratch, ignore_errors=True)


def ordered_file_split(
    df: DataFrame, order_col: str, n: int, dest_dir: str
) -> None:
    """Write ``df`` as ``n`` range-partitioned parquet files whose mtimes
    increase in partition-index order, so a ``maxFilesPerTrigger=1`` file
    stream replays them as micro-batches ordered by ``order_col``.

    ``repartitionByRange`` keeps equal keys in one partition and preserves
    the partition index in part-file names, so part-0000i holds the i-th
    ``order_col`` range and later batches never contain earlier offsets —
    no event is ever late relative to a watermark advanced by a previous
    batch."""
    df.repartitionByRange(n, order_col).write.parquet(dest_dir)
    parts = sorted(f for f in os.listdir(dest_dir) if f.startswith("part-"))
    base = os.path.getmtime(os.path.join(dest_dir, parts[-1]))
    for i, fname in enumerate(parts):
        path = os.path.join(dest_dir, fname)
        os.utime(path, (base + i + 1, base + i + 1))


def replay_stream(
    spark,
    df: DataFrame,
    order_col: str,
    prefix: str,
    n_files: int = 8,
    sentinel_fn=None,
    sentinel_copies: int = 1,
):
    """One-stop deterministic replay source shared by the streaming parity
    builders: work dir + ordered file split + optional watermark-flush
    sentinel + a ``maxFilesPerTrigger=1`` file stream over the result.
    Returns ``(work_dir, stream DataFrame)``.

    ``sentinel_fn`` receives the split's maximum ``order_col`` value and
    returns a far-future sentinel row tuple matching ``df``'s schema. The
    maximum is read from the LAST part file only — the range split puts
    the global max there, so this is a one-file footer-stats scan, not a
    second full pass over the source table."""
    from pyspark.sql import functions as F

    work = replay_workdir(prefix)
    src_dir = os.path.join(work, "src")
    ordered_file_split(df, order_col, n_files, src_dir)
    if sentinel_fn is not None:
        parts = sorted(f for f in os.listdir(src_dir) if f.startswith("part-"))
        mx = (
            spark.read.parquet(os.path.join(src_dir, parts[-1]))
            .agg(F.max(order_col))
            .first()[0]
        )
        # An empty replay has no windows/sessions in state to flush, so a
        # sentinel is pointless — and mx is None, which no sentinel_fn can
        # shift. Skip it; the stream just runs zero data batches.
        if mx is not None:
            write_flush_sentinel(
                spark.createDataFrame([sentinel_fn(mx)], df.schema),
                src_dir,
                copies=sentinel_copies,
            )
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return work, stream


def run_stream_to_parquet(
    transformed: DataFrame, work: str, name: str = "out"
) -> str:
    """Drive a replayed stream to completion through an append-mode parquet
    sink under the work dir; returns the output path to read back."""
    out = os.path.join(work, name)
    q = (
        transformed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(work, f"{name}_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def run_stream_to_memory(transformed: DataFrame, work: str) -> str:
    """Drive a replayed stream to completion through an update-mode memory
    sink (the only sink for update-mode emissions); returns the unique
    table name.
    Driver memory holds keys x batches rows — bounded for parity replays."""
    import uuid

    table = f"replay_{uuid.uuid4().hex[:8]}"
    q = (
        transformed.writeStream.format("memory")
        .queryName(table)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "mem_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table
