#!/usr/bin/env python
"""10x scale rehearsal (VERDICT r8 item 6) — run the heavy benched family
on an engine-side inflated corpus one order of magnitude past the largest
driver tier, and record wall times + any cliffs in SCALE.md.

/root/testdata caps at sf0.1 (read-only), and every 100 TB claim so far is
plan-shape + sf0.1 timings.  Scale reveals what plans don't: the sf0.1
parity tier caught PageRank's ROUND-on-double tie divergence that sf0.01
never hit; this tier exists to catch memory/AQE cliffs the same way.

The inflated corpus is a union of K hash-perturbed copies of sf0.1,
written once to a temp dir in load_table layout:

* ``documents``: doc_id shifted by copy * 10^9; each copy's text carries a
  copy tag token, so copies are NEAR-duplicates of each other — LSH/CC
  cluster sizes grow ~Kx, exactly the cluster-skew a web corpus shows.
* ``embeddings``: vec_id shifted; one dimension nudged by copy * 1e-3 so
  vectors are near- but not exactly equal (no degenerate cosine ties).
* ``lineitem``: l_orderkey and l_partkey shifted per copy — K disjoint
  co-purchase graphs, Kx nodes and edges for PageRank.
* ``events``: event_id and user_id shifted per copy (Kx keys).

Run (takes minutes; keep the host otherwise idle):

    python scale_rehearsal.py            # K=10, heavy family
    SPARK_GRAFT_REHEARSAL_K=3 python scale_rehearsal.py   # smaller sweep
    python scale_rehearsal.py --sinks            # bucketed-sink crossover
    python scale_rehearsal.py --full-pipeline    # corpus_pipeline_full_lsh
                     # on the DISTINCT-document inflation (non-degenerate
                     # decontamination — see inflate_documents_distinct)

Prints one JSON line: {"k": K, "rows": {...}, "queries": {name: sec},
"errors": {...}}.  Results are transcribed to SCALE.md, not auto-written.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HEAVY_FAMILY = (
    "dedup_minhash_lsh",
    "dedup_survivors_lsh",
    "dedup_semantic",
    "corpus_pipeline_lsh",
    "corpus_pipeline_full_lsh",
    "knn_ivfpq",
    "knn_bruteforce",
    "pagerank_parts",
)

INFLATED = ("documents", "embeddings", "lineitem", "events")


def inflate(spark, src_dir: str, dest_dir: str, k: int) -> dict[str, int]:
    """Write the K-copy perturbed union of sf tables into dest_dir."""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.schemas import SYNTHETIC_TABLES
    from full_data_infrastructure_spark.sources.parquet import (
        load_table,
        table_path,
    )

    rows: dict[str, int] = {}
    for name in SYNTHETIC_TABLES:
        base = load_table(spark, src_dir, name)
        if name not in INFLATED:
            base.write.parquet(table_path(dest_dir, name))
            continue
        copies = []
        for i in range(k):
            c = base
            if name == "documents":
                c = c.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 10**9)
                ).withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" rep{i}"))
                ).withColumn("n_chars", F.length("text").cast("bigint"))
            elif name == "embeddings":
                c = c.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(i * 10**9)
                ).withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            (
                                F.element_at("embedding", 1) + F.lit(i * 1e-3)
                            ).cast("float")
                        ),
                        F.slice(F.col("embedding"), 2, F.size("embedding") - 1),
                    ),
                )
            elif name == "lineitem":
                c = c.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * 10**9)
                ).withColumn("l_partkey", F.col("l_partkey") + F.lit(i * 10**7))
            elif name == "events":
                c = c.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * 10**9)
                ).withColumn("user_id", F.col("user_id") + F.lit(i * 10**7))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionAll(c)
        out.write.parquet(table_path(dest_dir, name))
        rows[name] = spark.read.parquet(table_path(dest_dir, name)).count()
    return rows


def inflate_documents_distinct(spark, src_dir: str, dest_dir: str, k: int) -> int:
    """K-copy documents inflation where copies are DISTINCT documents —
    a per-copy token BIJECTION (every token of copy i>0 gets the suffix
    ``{i}x``; copy 0 is the base verbatim).

    Why not the default :func:`inflate`?  Its copy-tag near-duplication
    saturates the FULL pipelines' decontamination stage (SCALE.md
    round-10 finding 2).  And why a vocabulary-expanding bijection
    rather than, say, per-copy token shuffling?  Because the REAL
    saturation mechanism is the synthetic corpus's 31-token vocabulary:
    word-3-gram space is at most 31^3, the sf0.1 eval split alone emits
    ~11k distinct shingles, and measured on the BASE sf0.1 corpus 97%
    of train docs (4606/4733) already exceed the 0.25 contamination
    threshold.  Any inflation that keeps the same vocabulary — shuffled,
    regenerated, whatever — only deepens that saturation with corpus
    size (this was measured: token-shuffled copies still decontaminate
    to zero at K=10/sf0.1).  The suffix bijection instead gives each
    copy its OWN 31-token vocabulary:

    * across copies, every shingle carries its copy's tag, so trigram
      sets are disjoint and decontamination only fires within a copy;
    * within a copy, a token bijection is an isomorphism on n-grams —
      every Jaccard similarity, exact-dup family, near-dup family and
      pairwise shingle overlap of the base corpus is preserved exactly.
      The eval/train SPLIT is NOT the base's, though: eval membership
      hashes doc_id and copy i shifts doc_ids, so each copy draws a
      fresh ~5% md5 eval split over that preserved structure — K
      independent replays of the base corpus's decontamination
      experiment, statistically equivalent rather than identical.  The
      base's ~97% contamination rate is driven by the vocabulary
      saturation above, which any 5% split reproduces, so each copy
      keeps a ~3% uncontaminated tail and the clean corpus grows
      ~linearly in K instead of collapsing to zero (a pathological
      re-rolled split CAN contaminate ~all of one copy — the harness's
      clean_corpus>0 gate is what certifies the run, not this prose).
      For the same reason the copies are not quality-homogeneous: the
      LCG gram-hash quality weights re-rolled over each copy's fresh
      token set are not centered, so copy 0 keeps ~90% of docs through
      the quality stage while re-rolled copies keep ~34% (~40%
      blended) — per-stage counts at 10x/30x reflect this corpus
      construction, not a classifier regression;
    * the suffix is digits+``x`` appended to an all-ALPHABETIC
      vocabulary, so the map is collision-free across copies for any
      K.  That precondition is ENFORCED, not assumed (ADVICE r11): a
      digit-bearing base token would make tags ambiguous (base
      ``foo1`` in copy 1 and base ``foo`` in copy 11 both become
      ``foo11x``, silently reintroducing cross-copy contamination), so
      the function raises ``ValueError`` if any base text contains a
      digit.

    All JVM-side (one ``regexp_replace``); only the documents table is
    written (the FULL pipelines read nothing else).  Returns the
    inflated row count.
    """
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.sources.parquet import (
        load_table,
        table_path,
    )

    base = load_table(spark, src_dir, "documents")
    # Collision-freedom precondition (see docstring): the `{i}x` tags are
    # only unambiguous over a digit-free base vocabulary.
    if k > 1 and base.where(F.col("text").rlike("[0-9]")).limit(1).count() > 0:
        raise ValueError(
            "inflate_documents_distinct requires a digit-free base "
            "vocabulary: a digit-bearing token makes the per-copy "
            "`{i}x` tags ambiguous across copies (e.g. 'foo1'+'1x' == "
            "'foo'+'11x'), silently reintroducing the cross-copy "
            "contamination the bijection exists to remove"
        )
    copies = []
    for i in range(k):
        c = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10**9))
        if i > 0:
            c = c.withColumn(
                "text",
                F.regexp_replace(F.col("text"), r"(?<t>\S+)", f"${{t}}{i}x"),
            ).withColumn("n_chars", F.length("text").cast("bigint"))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionAll(c)
    out.write.parquet(table_path(dest_dir, "documents"))
    return spark.read.parquet(table_path(dest_dir, "documents")).count()


def full_pipeline_rehearsal(spark, src_dir: str, k: int) -> dict:
    """Non-degenerate scale point for corpus_pipeline_full_lsh (VERDICT
    r10 item 3): inflate with :func:`inflate_documents_distinct`, run the
    full quality -> decontaminate -> LSH dedup -> mixture -> pack chain
    end-to-end COLD for the wall number, then re-walk the chain's stages
    for the per-stage counts SCALE.md records (clean_corpus must be > 0
    for the wall to mean anything — asserted here, not eyeballed)."""
    from full_data_infrastructure_spark import queries as registry
    from full_data_infrastructure_spark.cache import release_persisted
    from full_data_infrastructure_spark.operators.curation import (
        EVAL_BUCKET_MAX,
        _decontaminate,
        hash_bucket,
    )
    from full_data_infrastructure_spark.operators.packing import _clean_corpus
    from full_data_infrastructure_spark.operators.text import qc_keep_col
    from full_data_infrastructure_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    registry._ensure_loaded()
    dest = tempfile.mkdtemp(prefix="scale_full_pipeline_")
    try:
        t0 = time.monotonic()
        n_docs = inflate_documents_distinct(spark, src_dir, dest, k)
        inflate_sec = round(time.monotonic() - t0, 1)

        # Cold end-to-end wall first (stage counts would warm the persist).
        build = registry.REGISTRY["corpus_pipeline_full_lsh"].build
        t0 = time.monotonic()
        packed = build(spark, dest).count()
        wall = round(time.monotonic() - t0, 1)

        docs = load_table(spark, dest, "documents")
        quality_keep = docs.where(qc_keep_col(F.col("text"))).count()
        non_eval = docs.where(
            qc_keep_col(F.col("text"))
            & (hash_bucket(F.col("doc_id")) > EVAL_BUCKET_MAX)
        ).count()
        contaminated = (
            _decontaminate(spark, dest).filter("contaminated").count()
        )
        clean = _clean_corpus(spark, dest).count()
        if clean <= 0:
            # RuntimeError, not assert: the gate must fire under -O too,
            # or a saturating regression records the fast empty path as a
            # valid wall — the exact outcome it exists to prevent.
            raise RuntimeError(
                "clean corpus is EMPTY — the distinct-document inflation "
                "has regressed to the saturating near-dup shape (finding 2)"
            )
        return {
            "mode": "full_pipeline",
            "k": k,
            "inflate_sec": inflate_sec,
            "stages": {
                "docs": n_docs,
                "quality_keep": quality_keep,
                "non_eval": non_eval,
                "contaminated": contaminated,
                "clean_corpus": clean,
                "packed_rows": packed,
            },
            "wall_sec": wall,
            "load_avg": [round(x, 2) for x in os.getloadavg()],
        }
    finally:
        release_persisted()
        shutil.rmtree(dest, ignore_errors=True)


def record_fold_cost(name: str, query) -> float:
    """Return the summed addBatch seconds (the foreachBatch/sink execution
    — the part that scales with data, unlike trigger setup and checkpoint
    commits) across the completed run's micro-batches.

    ``recentProgress`` is a ring buffer capped at
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100); the
    assert below turns a silent undercount into a loud failure when a
    replay runs more micro-batches than that."""
    from pyspark.sql import SparkSession

    progress = query.recentProgress
    spark = SparkSession.getActiveSession()
    cap = int(
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
        if spark is not None
        else "100"
    )
    assert len(progress) < cap, (
        f"recentProgress hit the {cap}-entry ring-buffer cap; fold cost of "
        f"{name!r} would undercount — raise numRecentProgressUpdates"
    )
    ms = 0.0
    for p in progress:
        ms += float((p.get("durationMs") or {}).get("addBatch", 0.0))
    return round(ms / 1000.0, 3)


def sink_crossover(spark, src_dir: str, k: int) -> dict:
    """Measure the bucketed sinks' crossover in their WINNING regime
    (VERDICT r9 item 2): standing table >> batch.

    The per-round bench folds an entire sf0.1 change stream from empty,
    so standing ~= batch and the bucketed twins' bucket bookkeeping is
    pure overhead.  The operator's actual 100 TB
    claim — per-batch IO = touched/n_buckets of the TABLE
    (streaming/sinks.py) — only bites when the standing table dwarfs the
    batch, the nightly-CDC shape.  Build a K-copy standing table (K=400
    by default, the SPARK_GRAFT_REHEARSAL_SINK_K env var overrides;
    K=400 gives ~600k upsert keys carrying an incompressible ~512 B
    payload so the table is big in BYTES, not just rows — parquet
    dictionary-compresses the synthetic events columns to ~10 B/row,
    which would let fixed trigger overhead swamp the IO difference the
    experiment exists to measure — plus ~32M SCD2 version rows; the
    SCALE.md round-10 table records both the K=100 and K=400 points),
    then
    fold ONE key-sparse batch (every key in 2 of the 16 crc32 buckets,
    ~190 keys) through the real streaming sinks in both modes and record
    fold_sec (addBatch only) side by side.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.operators.windows import scd2_versions
    from full_data_infrastructure_spark.sources.parquet import load_table
    from full_data_infrastructure_spark.streaming.replay import replay_stream
    from full_data_infrastructure_spark.streaming.sinks import (
        _key_bucket,
        start_scd2_sink,
        start_upsert_sink,
    )

    n_buckets, sparse_buckets = 16, (3, 11)
    ev = load_table(spark, src_dir, "events")
    # K perturbed copies via ONE crossJoin (a K-branch union's analysis
    # cost grows with K; a broadcast range join doesn't).
    big = (
        ev.crossJoin(F.broadcast(spark.range(k).withColumnRenamed("id", "copy")))
        .select(
            (F.col("user_id") + F.col("copy") * F.lit(10**7)).alias("user_id"),
            (F.col("event_id") + F.col("copy") * F.lit(10**9)).alias("event_id"),
            "ts",
            "event_type",
            "value",
            "props",
        )
    )

    work_root = tempfile.mkdtemp(prefix="sink_crossover_")
    out: dict = {"k": k, "n_buckets": n_buckets, "sparse_buckets": list(sparse_buckets)}

    def du(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    def fold_once(tag: str, standing_path: str, batch_df, order_col: str, start_fn):
        ckpt = os.path.join(work_root, f"ckpt_{tag}")
        t0 = time.monotonic()
        work, stream = replay_stream(
            spark, batch_df, order_col, prefix=f"xover_{tag}_", n_files=1
        )
        q = start_fn(stream, standing_path, ckpt)
        q.awaitTermination()
        out.setdefault("fold_sec", {})[tag] = record_fold_cost(f"xover_{tag}", q)
        out.setdefault("wall_sec", {})[tag] = round(time.monotonic() - t0, 1)
        shutil.rmtree(work, ignore_errors=True)
        print(
            f"# {tag}: fold {out['fold_sec'][tag]}s "
            f"(wall {out['wall_sec'][tag]}s)",
            file=sys.stderr,
        )

    # ---- upsert pair: standing = latest row per key, fat payload ----
    latest = (
        big.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("event_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "event_type",
            "value",
            "props",
            # ~512 B of per-row incompressible payload (4x sha2-512 hex):
            # a real dimension row carries many attributes; without this
            # the whole standing table dictionary-compresses to ~10 B/row
            # and the rewrite-vs-pruned IO difference disappears into
            # trigger overhead.
            F.concat(
                *(
                    F.sha2(F.concat_ws("-", "user_id", F.lit(i)), 512)
                    for i in range(4)
                )
            ).alias("payload"),
        )
    )
    snap_swap = os.path.join(work_root, "upsert_swap")
    snap_bkt = os.path.join(work_root, "upsert_bucketed")
    latest.write.parquet(snap_swap)
    latest.withColumn("bucket", _key_bucket("user_id", n_buckets)).write.partitionBy(
        "bucket"
    ).parquet(snap_bkt)
    standing_keys = spark.read.parquet(snap_swap).count()
    out["upsert_standing_rows"] = standing_keys
    out["upsert_standing_bytes"] = du(snap_swap)

    max_eid = big.agg(F.max("event_id")).first()[0]
    sparse_users = (
        ev.select("user_id")
        .distinct()
        .filter(_key_bucket("user_id", n_buckets).isin(list(sparse_buckets)))
    )
    upsert_batch = sparse_users.select(
        "user_id",
        (F.lit(max_eid) + F.col("user_id")).alias("event_id"),
        F.lit("2026-01-01 00:00:00").alias("ts_s"),
        F.lit("rehearsal_update").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
        F.concat(
            *(
                F.sha2(F.concat_ws("-", "user_id", F.lit(100 + i)), 512)
                for i in range(4)
            )
        ).alias("payload"),
        F.lit("u").alias("op"),
    )
    batch_keys = upsert_batch.count()
    out["batch_keys"] = batch_keys
    out["standing_to_batch_keys"] = round(standing_keys / batch_keys, 1)

    fold_once(
        "upsert_swap",
        snap_swap,
        upsert_batch,
        "event_id",
        lambda s, p, c: start_upsert_sink(
            s, snapshot_path=p, checkpoint_path=c, key="user_id",
            order_col="event_id", available_now=True,
        ),
    )
    fold_once(
        "upsert_bucketed",
        snap_bkt,
        upsert_batch,
        "event_id",
        lambda s, p, c: start_upsert_sink(
            s, snapshot_path=p, checkpoint_path=c, key="user_id",
            order_col="event_id", available_now=True, n_buckets=n_buckets,
        ),
    )

    # ---- scd2 pair: standing = compressed version history ----
    versions = scd2_versions(big.select("user_id", "event_type", "ts", "event_id"))
    ver_swap = os.path.join(work_root, "scd2_swap")
    ver_bkt = os.path.join(work_root, "scd2_bucketed")
    versions.write.parquet(ver_swap)
    versions.withColumn("bucket", _key_bucket("user_id", n_buckets)).write.partitionBy(
        "bucket"
    ).parquet(ver_bkt)
    out["scd2_standing_rows"] = spark.read.parquet(ver_swap).count()
    out["scd2_standing_bytes"] = du(ver_swap)

    max_ts_us = big.agg(F.max(F.unix_micros("ts"))).first()[0]
    scd2_batch = sparse_users.select(
        "user_id",
        F.lit("rehearsal_update").alias("event_type"),
        F.timestamp_micros(
            (F.lit(max_ts_us) + F.lit(10**6) + F.col("user_id")).cast("bigint")
        ).alias("ts"),
        (F.lit(max_eid) + F.col("user_id")).alias("event_id"),
    )
    fold_once(
        "scd2_swap",
        ver_swap,
        scd2_batch,
        "event_id",
        lambda s, p, c: start_scd2_sink(
            s, versions_path=p, checkpoint_path=c, available_now=True
        ),
    )
    fold_once(
        "scd2_bucketed",
        ver_bkt,
        scd2_batch,
        "event_id",
        lambda s, p, c: start_scd2_sink(
            s, versions_path=p, checkpoint_path=c, available_now=True,
            n_buckets=n_buckets,
        ),
    )

    shutil.rmtree(work_root, ignore_errors=True)
    return out


def main() -> None:
    k = int(os.environ.get("SPARK_GRAFT_REHEARSAL_K", "10"))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from full_data_infrastructure_spark import queries as registry
    from full_data_infrastructure_spark.session import build_session

    # The 8g driver-heap default is sized for the TEST suite; a rehearsal
    # JVM shares one unified memory pool across all 32 local task threads,
    # and K>=30 corpora exhaust it (round 10: pagerank at 18M lineitem
    # rows died with UNABLE_TO_ACQUIRE_MEMORY under 8g, clean under 32g).
    # On a real cluster this pool is per-executor, so sizing the rehearsal
    # JVM to the host is the faithful analogue, not a cheat.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = build_session(app_name="fdi-spark-scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    if "--sinks" in sys.argv:
        sink_k = int(os.environ.get("SPARK_GRAFT_REHEARSAL_SINK_K", "400"))
        try:
            print(json.dumps(sink_crossover(spark, src, sink_k)))
        finally:
            spark.stop()
        return

    if "--full-pipeline" in sys.argv:
        try:
            print(json.dumps(full_pipeline_rehearsal(spark, src, k)))
        finally:
            spark.stop()
        return

    dest = tempfile.mkdtemp(prefix="scale_rehearsal_")
    try:
        t0 = time.monotonic()
        rows = inflate(spark, src, dest, k)
        inflate_sec = round(time.monotonic() - t0, 1)
        print(f"# inflated K={k} in {inflate_sec}s: {rows}", file=sys.stderr)

        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        for name in HEAVY_FAMILY:
            build = registry.REGISTRY[name].build
            t0 = time.monotonic()
            try:
                n = build(spark, dest).count()
            except Exception as exc:  # a cliff IS the finding — record it
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
                continue
            timings[name] = round(time.monotonic() - t0, 1)
            rows[f"result:{name}"] = n
            print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
            if n == 0:
                # A zero-row result is a finding, not a timing: the wall
                # number then measures an empty fast path (round 10: the
                # full-pipeline chain decontaminates an inflated corpus
                # to NOTHING at K>=10 because every copy-family has an
                # eval-bucket member — the r9 SCALE.md ratio for it was
                # measuring that). Surface it loudly.
                print(f"# {name}: ZERO ROWS — wall measures the empty "
                      "fast path; interpret accordingly", file=sys.stderr)

        print(
            json.dumps(
                {
                    "k": k,
                    "inflate_sec": inflate_sec,
                    "rows": rows,
                    "queries": timings,
                    "errors": errors,
                    "load_avg": [round(x, 2) for x in os.getloadavg()],
                }
            )
        )
    finally:
        shutil.rmtree(dest, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
