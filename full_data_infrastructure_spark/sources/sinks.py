"""Batch sinks — SURVEY.md §2.1 S10/S11/S13/S14.

The reference overwrites its ``final`` Delta table with explicit schema
evolution (``read_delta.py:219-222``) after a boto3 bucket-existence check
(``:164-199``), and registers tables in Trino's catalog (README.md:115-121).
Engine equivalents: format-agnostic overwrite/append writers (Delta when
available, parquet otherwise), date-partitioned layouts (the scale fix for
the reference's unpartitioned writes, SURVEY.md §4), catalog registration
via ``saveAsTable``/SQL, and an object-store-prep seam where boto3 wiring
belongs on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from full_data_infrastructure_spark.session import _delta_available
from full_data_infrastructure_spark.sqltext import ident, literal


def default_table_format() -> str:
    return "delta" if _delta_available() else "parquet"


def write_overwrite(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """S10 (read_delta.py:219-222): overwrite with schema evolution.

    100 TB note: pass partition_by (e.g. a date column) — the reference
    writes unpartitioned, which makes every downstream scan a full scan.
    """
    writer = (
        df.write.format(fmt or default_table_format())
        .mode("overwrite")
        .option("overwriteSchema", "true")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_append(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> None:
    writer = df.write.format(fmt or default_table_format()).mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S11 (SaveDelta.scala:65): CSV smoke-test write, with a header row."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: tuple[str, ...],
    num_buckets: int = 64,
) -> None:
    """Hash-bucketed, bucket-sorted parquet managed table — the co-located
    join layout.

    Two tables bucketed on the same keys with the same bucket count join
    with NO exchange and no sort on either side: at 100 TB
    this turns the nightly fact x fact join from a full dual shuffle into
    a local per-bucket merge. The reference writes everything unbucketed
    and unpartitioned (``read_delta.py:219-222``), so every downstream
    join repays the shuffle; bucketing pays it once at write time.
    Requires ``saveAsTable`` (bucket metadata lives in the catalog).
    """
    (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def register_table(
    spark: SparkSession, name: str, path: str, fmt: str | None = None
) -> None:
    """S14 — external-catalog registration (Trino register_table,
    README.md:115-121) as a Spark SQL external table. ``name`` is one
    unqualified table name; it and the format are quoted as identifiers
    and ``path`` as a string literal, so a quote in either cannot change
    the statement."""
    fmt = fmt or default_table_format()
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {ident(name)} USING {ident(fmt)} "
        f"LOCATION {literal(path)}"
    )


def ensure_bucket(bucket: str) -> bool:
    """S13 — the reference's boto3 head_bucket/create_bucket flow
    (read_delta.py:164-199): probe the bucket, create it when the probe
    fails. Returns True when an object-store client handled the request,
    False when no client is importable (local filesystems need no
    preparation; sinks use local paths). Credentials/endpoints come from
    the standard boto3 environment on a real cluster."""
    try:
        import boto3
    except ImportError:
        return False  # no object store in this environment
    client = boto3.client("s3")
    try:
        client.head_bucket(Bucket=bucket)
        return True
    except Exception as exc:
        # Only a definitive "bucket does not exist" may fall through to
        # creation; 403/timeout/etc. must surface, not trigger a doomed
        # create that masks the real error.
        code = ""
        response = getattr(exc, "response", None)
        if isinstance(response, dict):
            code = str(response.get("Error", {}).get("Code", ""))
        if code not in ("404", "NoSuchBucket", "NotFound") and "404" not in str(exc):
            raise
    region = getattr(getattr(client, "meta", None), "region_name", None)
    kwargs = {"Bucket": bucket}
    if region and region != "us-east-1":
        # S3 rejects a bare create outside us-east-1 without the
        # LocationConstraint matching the client's region.
        kwargs["CreateBucketConfiguration"] = {"LocationConstraint": region}
    client.create_bucket(**kwargs)
    return True


def compact(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = True,
) -> int:
    """Small-file compaction — the OSS-Delta stand-in for ``OPTIMIZE``
    (SURVEY.md §4: streaming sinks accrete one small file per micro-batch
    per partition; scan throughput at 100 TB dies on file-open overhead).

    Rewrites the table with files sized ~``target_file_bytes``. Parquet path
    writes to a sibling temp directory then swaps, because overwriting a
    path Spark is lazily reading from corrupts the read; Delta's
    transactional overwrite doesn't need the swap. Returns the new file
    count. Run periodically (the reference has no compaction at all).

    ``shuffle=True`` (default) repartitions for maximally even output
    files — one full pass of the data over the network.
    ``shuffle=False`` coalesces instead: input splits are concatenated
    locally with ZERO data movement (the plan has no Exchange — asserted
    in tests), at the cost of output sizes tracking whatever the input
    split distribution was. For pure small-file cleanup — the common
    maintenance case, where inputs are uniformly tiny — coalesce is the
    100 TB default Delta's OPTIMIZE bin-packing also uses; reach for the
    shuffle only when the input is skewed enough that even files matter
    more than a corpus-sized shuffle. The table is rewritten unpartitioned.
    """
    import math
    import os
    import shutil
    import uuid

    fmt = fmt or default_table_format()
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith(("_", "."))
        )
    n_files = max(math.ceil(total / target_file_bytes), 1)
    df = spark.read.format(fmt).load(path)
    compacted = df.repartition(n_files) if shuffle else df.coalesce(n_files)
    tmp = f"{path.rstrip('/')}_compact_{uuid.uuid4().hex[:8]}"
    compacted.write.format(fmt).mode("overwrite").save(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    out = 0
    for root, _dirs, files in os.walk(path):
        out += sum(1 for f in files if f.endswith(f".{fmt}") or f.endswith(".parquet"))
    return out
