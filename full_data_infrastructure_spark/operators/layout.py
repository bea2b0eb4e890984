"""Multi-dimensional data layout (z-ordering) — the lake-layout operator a
100 TB corpus needs for file skipping on more than one predicate column.

Parquet scans prune at file/row-group granularity from footer min/max
stats. A table range-written on ONE column prunes only that column's
predicates; interleaving the bits of several columns' normalized ranks
(the Morton / z-order curve) makes every file's min/max range TIGHT in
every interleaved dimension at once, so predicates on any of them skip
files. This is the same layout Delta's OPTIMIZE ZORDER BY builds; here it
is a plain column expression + repartitionByRange, so it works on any
parquet lake.

The z-value is pure integer arithmetic (min-max normalize to 16 bits via
integer division, then bit-interleave) — deterministic, engine-portable,
and oracle-checked end to end. The actual file-skipping payoff is proven
in tests/test_plans.py by counting parquet footers whose min/max overlap
a 2-D predicate under z-order vs single-column layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table

Z_BITS = 16  # per-dimension resolution; 2 dims -> 32-bit z values


def normalized_16bit(col: Column, mn: Column, mx: Column) -> Column:
    """Map col into [0, 65535] by integer min-max scaling: exact BIGINT
    arithmetic (no float rounding to drift across engines)."""
    span = mx - mn
    return F.when(span <= 0, F.lit(0).cast("bigint")).otherwise(
        ((col - mn) * F.lit((1 << Z_BITS) - 1)).cast("bigint") / span
    ).cast("bigint")


def interleave_bits(x: Column, y: Column) -> Column:
    """32-bit Morton code: bit i of x lands at 2i, bit i of y at 2i+1."""
    z = F.lit(0).cast("bigint")
    for i in range(Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _interleave_sql(x: str, y: str) -> str:
    """DuckDB mirror of interleave_bits (machine-generated bit ops)."""
    terms = [f"((({x} >> {i}) & 1) << {2 * i})" for i in range(Z_BITS)]
    terms += [f"((({y} >> {i}) & 1) << {2 * i + 1})" for i in range(Z_BITS)]
    return " | ".join(terms)


def zorder_layout(
    df: DataFrame, col_a: str, col_b: str, n_files: int, path: str
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-partitioned on the
    z-value of (col_a, col_b): one extra narrow-integer range shuffle,
    after which every file covers a compact 2-D tile and footer stats
    prune on BOTH columns. The bounds aggregate is a broadcast 1-row
    join, so the layout pass stays a single lazy plan."""
    bounds = df.agg(
        F.min(col_a).alias("mn_a"),
        F.max(col_a).alias("mx_a"),
        F.min(col_b).alias("mn_b"),
        F.max(col_b).alias("mx_b"),
    )
    with_z = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z",
        interleave_bits(
            normalized_16bit(F.col(col_a), F.col("mn_a"), F.col("mx_a")),
            normalized_16bit(F.col(col_b), F.col("mn_b"), F.col("mx_b")),
        ),
    )
    with_z.drop("mn_a", "mx_a", "mn_b", "mx_b").repartitionByRange(
        n_files, "_z"
    ).drop("_z").write.mode("overwrite").parquet(path)


_Z_MAX = (1 << Z_BITS) - 1
_Z_NORM_A = f"CAST(((l_partkey - mn_a) * {_Z_MAX}) AS BIGINT) / (mx_a - mn_a)"
_Z_NORM_B = f"CAST(((l_suppkey - mn_b) * {_Z_MAX}) AS BIGINT) / (mx_b - mn_b)"


@register(
    "zorder_key_lineitem",
    f"""
    WITH b AS (
        SELECT min(l_partkey) AS mn_a, max(l_partkey) AS mx_a,
               min(l_suppkey) AS mn_b, max(l_suppkey) AS mx_b
        FROM lineitem
    ),
    n AS (
        SELECT l_orderkey, l_linenumber,
               CAST(floor({_Z_NORM_A}) AS BIGINT) AS nx,
               CAST(floor({_Z_NORM_B}) AS BIGINT) AS ny
        FROM lineitem, b
    )
    SELECT l_orderkey, l_linenumber,
           {_interleave_sql('nx', 'ny')} AS z
    FROM n
    """,
    doc="Z-order (Morton) clustering key over (l_partkey, l_suppkey): "
    "integer min-max normalization to 16 bits, bit-interleave to a "
    "32-bit z-value — the sort key OPTIMIZE ZORDER BY uses, as a plain "
    "deterministic column expression. Oracle-checked bit-for-bit; the "
    "file-skipping payoff (fewer parquet footers overlap a 2-D "
    "predicate than under single-column layout) is asserted in "
    "tests/test_plans.py::test_zorder_layout_prunes_more_files.",
    tags=("extension", "layout"),
)
def _zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("mn_a"),
        F.max("l_partkey").alias("mx_a"),
        F.min("l_suppkey").alias("mn_b"),
        F.max("l_suppkey").alias("mx_b"),
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            "l_orderkey",
            "l_linenumber",
            interleave_bits(
                normalized_16bit(
                    F.col("l_partkey"), F.col("mn_a"), F.col("mx_a")
                ),
                normalized_16bit(
                    F.col("l_suppkey"), F.col("mn_b"), F.col("mx_b")
                ),
            ).alias("z"),
        )
    )


@register(
    "compact_small_files",
    "SELECT doc_id, lang, source, n_chars FROM documents",
    doc="Small-file compaction roundtrip — the OPTIMIZE stand-in for "
    "streaming sinks that accrete one file per micro-batch per partition "
    "(scan throughput at 100 TB dies on file-open overhead, and the "
    "reference never compacts: SaveDelta.scala appends forever). The "
    "builder scatters the documents projection into 64 deliberately tiny "
    "files, runs sources/sinks.py::compact to rewrite them at a target "
    "file size, and returns the compacted table; the oracle hash proves "
    "the rewrite LOSSLESS (bit-identical rows), while the file-count "
    "payoff is asserted from the real directory in "
    "tests/test_sources.py::test_compact_reduces_file_count. "
    "Eager by design (a layout maintenance job, not a query plan) — "
    "exempted from the lazy-builder gate alongside the streaming "
    "snapshots.",
    tags=("extension", "layout"),
)
def _compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.sources.parquet import load_table as _lt
    from full_data_infrastructure_spark.sources.sinks import compact
    from full_data_infrastructure_spark.streaming.replay import replay_workdir

    docs = _lt(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    work = replay_workdir("compact_")
    path = os.path.join(work, "docs")
    # Simulate micro-batch accretion: 64 files, each a few KB at test SFs.
    docs.repartition(64).write.parquet(path)
    compact(spark, path, fmt="parquet", target_file_bytes=4 * 1024 * 1024)
    return hold_dir(work, spark.read.parquet(path))


@register(
    "jsonl_documents_roundtrip",
    """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    doc="Gzipped JSON-Lines source/sink roundtrip over the documents "
    "corpus — jsonl.gz is the lingua franca of public text corpora (C4, "
    "cc-net, RedPajama, Dolma all ship it), so a training-data engine "
    "must write and re-read it losslessly: every row and every unicode "
    "code point of text must survive the JSON escape/parse cycle, which "
    "the oracle hash (vs the original parquet) proves. The read passes "
    "the writer's schema explicitly — schema inference costs a full "
    "extra scan of the corpus and silently widens types. Scale notes: "
    "gzip members are NOT splittable, so read parallelism equals file "
    "count — fine for ingest (corpora arrive as thousands of shards; "
    "one task each), wrong as a working format. The engine's posture is "
    "ingest jsonl.gz once, convert to parquet/Delta (write_overwrite), "
    "and point every downstream operator at the columnar copy.",
    tags=("extension", "layout"),
)
def _jsonl_documents_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import replay_workdir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    work = replay_workdir("jsonl_roundtrip_")
    path = os.path.join(work, "documents_jsonl")
    docs.write.mode("overwrite").option("compression", "gzip").json(path)
    return hold_dir(work, spark.read.schema(docs.schema).json(path))


@register(
    "jsonl_quarantine_ingest",
    """
    SELECT doc_id, text, lang, source, n_chars
    FROM documents
    WHERE doc_id % 50 <> 0
    """,
    doc="Malformed-record quarantine on JSON-Lines ingest — the "
    "dead-letter pattern real corpus ingest needs: web-scale jsonl "
    "shards always contain truncated/garbled lines, and a 100 TB load "
    "must neither abort (FAILFAST) nor silently null-fill them "
    "(PERMISSIVE's default shape). Documents are exported as jsonl with "
    "every doc_id % 50 == 0 line deterministically corrupted (truncated "
    "JSON prefix); the ingest reads with mode=DROPMALFORMED and the "
    "writer's schema, and must recover EXACTLY the uncorrupted rows — "
    "the oracle is the modulo filter over the original table, so the "
    "hash match proves malformed lines drop without taking neighbors "
    "with them and clean rows survive byte-exact. The PERMISSIVE "
    "companion path (columnNameOfCorruptRecord -> a quarantine/"
    "dead-letter table preserving the raw line for replay, plus Spark's "
    "cache-before-filtering-on-the-corrupt-column gotcha) is driven in "
    "tests/test_operators.py::test_jsonl_permissive_quarantine.",
    tags=("extension", "layout"),
)
def _jsonl_quarantine_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import replay_workdir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    payload = F.to_json(
        F.struct("doc_id", "text", "lang", "source", "n_chars")
    )
    lines = docs.select(
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.lit('{"truncated'), F.substring(payload, 1, 20)),
        )
        .otherwise(payload)
        .alias("value")
    )
    work = replay_workdir("jsonl_quarantine_")
    path = os.path.join(work, "documents_jsonl")
    lines.write.mode("overwrite").text(path)
    ingested = (
        spark.read.schema(docs.schema)
        .option("mode", "DROPMALFORMED")
        .json(path)
    )
    return hold_dir(work, ingested)


# ---------------------------------------------------------------------------
# Deterministic training-shard layout (round 8)
# ---------------------------------------------------------------------------

TRAINING_SHARDS = 16  # demo shard count; a 100 TB corpus uses O(10^4) shards


def shard_column(key: Column, n_shards: int) -> Column:
    """Deterministic, engine-portable shard id: the first 8 hex chars of
    ``md5(key)`` parsed as an integer, mod ``n_shards``.

    Training pipelines shard their output corpus so that (a) every
    trainer rank can open its own file list, (b) re-runs land every
    document in the SAME shard (resumable, diffable, cacheable), and
    (c) shard sizes stay balanced no matter how skewed the upstream
    partitioning was.  ``rand()``-based assignment fails (b); monotonic
    ``doc_id % n`` fails (c) whenever ids correlate with source or time.
    md5 gives a uniform, seed-free permutation both Spark
    (``conv(substr(md5(..), 1, 8), 16, 10)``) and ANSI engines
    (``('0x' || substr(md5(..), 1, 8))::BIGINT``) compute bit-identically,
    so the assignment itself is oracle-checkable.
    """
    return (
        F.conv(
            F.substring(F.md5(key.cast("string").cast("binary")), 1, 8), 16, 10
        ).cast("bigint")
        % F.lit(n_shards)
    ).cast("int")


def write_training_shards(
    df: DataFrame,
    key: str,
    path: str,
    n_shards: int = TRAINING_SHARDS,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` as a hash-sharded training corpus: ``shard_id=K/``
    directories, each written by exactly one task.

    One narrow shuffle total: ``repartition(n_shards, shard_id)`` hashes
    rows to their writer task, and ``partitionBy(shard_id)`` makes the
    directory layout self-describing so a filtered read
    (``shard_id = K``) lists ONE directory — trainer ranks and backfills
    read only their slice (partition pruning asserted in
    tests/test_plans.py::test_training_shards_prune_on_read).  Because
    the shard id is deterministic (see shard_column), rewriting after an
    upstream fix touches the same shard set, so downstream caches keyed
    on shard content invalidate precisely.  At 100 TB, raise n_shards so
    each shard is a few GB; the plan shape is unchanged.
    """
    sharded = df.withColumn("shard_id", shard_column(F.col(key), n_shards))
    (
        sharded.repartition(n_shards, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .format(fmt)
        .save(path)
    )


_HEX8 = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"


@register(
    "shard_manifest",
    f"""
    SELECT CAST({_HEX8}::BIGINT % {TRAINING_SHARDS} AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 2) AS avg_chars
    FROM documents
    GROUP BY 1
    ORDER BY shard_id
    """,
    doc="Training-shard manifest — the planning/bookkeeping half of the "
    "sharded corpus writer (write_training_shards).  Assigns every "
    "document its deterministic md5 shard (shard_column) and aggregates "
    "per-shard document and character totals: the manifest a trainer "
    "job consumes to size its data-loader ranks, and the balance check "
    "a pipeline runs BEFORE committing a multi-hour write.  Pure lazy "
    "plan: the shard id is a zero-shuffle projection, so the whole "
    "manifest is one pruned scan (doc_id, n_chars only) plus one "
    "map-side-combined aggregate exchange — the trailing ORDER BY "
    "repartitions only the n_shards manifest rows "
    "(tests/test_plans.py::test_shard_manifest_single_scan_one_exchange). "
    "The oracle hash proves Spark's conv()-based hex parse and the "
    "ANSI '0x' cast agree bit-for-bit on every assignment.",
    tags=("extension", "layout", "curation", "llm"),
)
def _shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        docs.select(
            shard_column(F.col("doc_id"), TRAINING_SHARDS).alias("shard_id"),
            "n_chars",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("shard_id")
    )
