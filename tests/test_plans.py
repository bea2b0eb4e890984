"""Physical-plan quality gates — the 100 TB design assertions.

These tests pin the *plan shape*, not results: dimension joins must
broadcast (a sort-merge join on a 5-row region table at 100 TB shuffles the
fact side for nothing), scans must prune columns and push filters, and
top-k must compile to TakeOrderedAndProject rather than a global sort.
A regression here is a performance bug even when every value is right.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entry_mod


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


# Builders that legitimately run Spark jobs during build (exempt from the
# eager-job probe, still plan-swept): iterative graph kernels materialize
# each round via localCheckpoint; streaming snapshot builders run a real
# availableNow replay; layout/roundtrip builders write then read back;
# two-phase builders collect a bounded sketch for a driver-side step.
ITERATIVE_BY_DESIGN = {
    "dedup_cluster_cc",
    "dup_cluster_size_histogram",  # same two-star CC kernel as above
    "dedup_survivors",
    "dedup_survivors_lsh",
    "corpus_pipeline",
    "corpus_pipeline_lsh",
    "corpus_pipeline_full",
    "corpus_pipeline_full_lsh",
    # run a real availableNow streaming fold, then read its snapshot
    "streaming_rollup_snapshot",
    "streaming_upsert_snapshot",
    "streaming_sessionize_snapshot",
    "streaming_tumbling_snapshot",
    "streaming_sliding_snapshot",
    "streaming_dedup_snapshot",
    "streaming_ema_snapshot",
    "streaming_funnel_snapshot",
    "streaming_scd2_snapshot",
    "streaming_scd2_bucketed_snapshot",
    "streaming_upsert_bucketed_snapshot",
    # layout maintenance job: scatters, compacts, reads back
    "compact_small_files",
    # format roundtrips: write the jsonl copy at build, then read back
    "jsonl_documents_roundtrip",
    "jsonl_quarantine_ingest",
    # two-phase by design: collects the O(partitions x d^2)
    # sufficient-statistics sketch for the driver-side eigh
    "embedding_pca_project",
    # reduces the corpus to a vocab-sized word-count list, then runs
    # the driver-side merge loop (how production BPE trainers work)
    "bpe_learn",
    # learns the merges first (same driver-side loop), then applies
    "bpe_tokenize_counts",
}


@pytest.fixture(scope="module")
def registry_audit(spark, sf_dir, queries):
    """ONE pass over the whole registry shared by every test in this
    module (round-9 suite engineering, VERDICT r8 item 3): previously the
    eager-job probe built all ~150 non-exempt queries, the anti-pattern
    sweep re-built and re-explained all of them, and each per-query gate
    re-built and re-explained its target — three full registry passes,
    the streaming/iterative builders running their replays each time.
    Here every query is built once inside a job-group probe and explained
    once (formatted); returns ``(plans, eager)`` where ``plans`` maps
    name -> formatted physical plan and ``eager`` maps name -> the
    data-touching stage names its BUILD ran (exempt names skipped).

    Runs at module setup under the DEFAULT session conf — conf-modifying
    tests below build their own plans directly and restore conf, so the
    shared plans are never polluted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    plans: dict[str, str] = {}
    eager: dict[str, list[str]] = {}
    for name, build in sorted(queries.items()):
        group = f"builder-probe-{name}"
        sc.setJobGroup(group, "no-data-jobs-during-build assertion")
        try:
            df = build(spark, sf_dir)
        finally:
            sc.setJobGroup(None, None)
        if name not in ITERATIVE_BY_DESIGN:
            bad_stages = []
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage and not stage.name.startswith("load at"):
                        bad_stages.append(stage.name)
            if bad_stages:
                eager[name] = bad_stages
        plans[name] = plan_of(df)
    return plans, eager


@pytest.fixture(scope="module")
def qplan(registry_audit):
    """Shared formatted plan of a registered query, computed once per
    module by ``registry_audit``. Use only for plans built under default
    session conf; conf-modifying tests must call ``plan_of`` directly."""
    plans, _ = registry_audit
    return plans.__getitem__


def test_flagship_broadcasts_dims_no_smj(qplan):
    plan = qplan("flagship_benefits")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_snowflake_join_broadcasts_all_dims(qplan):
    plan = qplan("join_dim_snowflake")
    assert plan.count("BroadcastHashJoin") >= 3  # nation, region, customer side
    assert "SortMergeJoin" not in plan


def test_scan_prunes_columns(qplan):
    plan = qplan("select_prune_cast")
    # the lineitem scan must read only the projected columns, not all 16
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, plan
    for line in read_schemas:
        assert "l_comment" not in line, f"unpruned scan: {line}"


def test_raw_column_filters_push_to_scan(spark, sf_dir):
    """Filters on stored columns must reach the parquet scan. (The
    notnull_filter QUERY filters a computed NULLIF — correctly not pushable;
    this pins the stored-column path the flagship relies on.)"""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.sources.parquet import load_table

    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & (F.col("o_totalprice") > 1000.0)
    )
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("IsNotNull(o_custkey)" in l for l in pushed), plan
    assert any("GreaterThan(o_totalprice" in l for l in pushed), plan


def test_topk_uses_take_ordered(qplan):
    plan = qplan("topk_group_count")
    assert "TakeOrderedAndProject" in plan


def test_knn_broadcasts_queries(qplan):
    plan = qplan("knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_corpus_side_fans_out(qplan):
    """The corpus-side scoring is O(|corpus| x |queries| x DIM) map work
    chained on the embeddings scan; a single-row-group test file scans as
    ONE task, so without the scale-adaptive fan_out the whole pass
    serializes on one core (r17 measurement: 0.55 s of a 0.84 s query on
    a single task). At test scale the round-robin exchange must appear
    below the scoring; fan_out's own unit test pins that it vanishes on
    large inputs."""
    plan = qplan("knn_bruteforce")
    assert "RoundRobinPartitioning" in plan


def test_fan_out_scale_adaptive(spark, sf_dir):
    """fan_out must (a) repartition a small scan up to the session's
    default parallelism, (b) change no rows, and (c) be the IDENTITY on
    inputs the optimizer estimates large — the branch is decided from
    plan statistics before any job runs, so no exchange can appear in a
    warehouse-scale plan."""
    from full_data_infrastructure_spark.sources.parquet import (
        FAN_OUT_BYTES_PER_CORE,
        fan_out,
        load_table,
    )

    small = load_table(spark, sf_dir, "embeddings").select("vec_id")
    fanned = fan_out(small)
    assert "RoundRobinPartitioning" in plan_of(fanned)
    assert sorted(r.vec_id for r in fanned.collect()) == sorted(
        r.vec_id for r in small.collect()
    )
    # range(n) is estimated at 8 bytes/row: size it past the threshold for
    # any plausible core count so the no-op branch is exercised exactly as
    # a warehouse-scale scan would take it.
    target = spark.sparkContext.defaultParallelism
    big = spark.range(2 * target * FAN_OUT_BYTES_PER_CORE // 8)
    assert fan_out(big) is big


def test_fan_out_survives_stats_probe_drift(spark, sf_dir):
    """The size probe rides a private PySpark surface
    (``_jdf.queryExecution().optimizedPlan().stats()``); if a Spark minor
    bump breaks it, fan_out must degrade to the scale-safe IDENTITY with a
    warning — never raise into every dedup/ANN caller at once.  Any other
    error from the probe is a real fault and propagates."""
    from py4j.protocol import Py4JError

    from full_data_infrastructure_spark.sources.parquet import fan_out, load_table

    real = load_table(spark, sf_dir, "embeddings").select("vec_id")

    class _Drifted:
        """Quacks like a DataFrame whose private plan accessor fails."""

        sparkSession = spark

        def __init__(self, error):
            self.error = error

        @property
        def _jdf(self):
            raise self.error

        def repartition(self, n):  # pragma: no cover - must not be reached
            raise AssertionError("drifted probe must not trigger an exchange")

    for error in (
        AttributeError("queryExecution surface changed"),
        Py4JError("Method stats([]) does not exist"),
    ):
        drifted = _Drifted(error)
        with pytest.warns(RuntimeWarning, match="size probe failed"):
            assert fan_out(drifted) is drifted
    with pytest.raises(ValueError, match="not drift"):
        fan_out(_Drifted(ValueError("not drift")))
    # and the healthy path still fans the small scan out
    assert "RoundRobinPartitioning" in plan_of(fan_out(real))


def test_fan_out_width_is_capped(spark, sf_dir, monkeypatch):
    """On a large cluster defaultParallelism is thousands; a size
    mis-estimate must not inject a thousands-of-partitions exchange.  The
    DERIVED target is capped at FAN_OUT_MAX_PARTITIONS (an explicit
    min_partitions is honored as-is)."""
    import full_data_infrastructure_spark.sources.parquet as pq

    small = pq.load_table(spark, sf_dir, "embeddings").select("vec_id")
    monkeypatch.setattr(pq, "FAN_OUT_MAX_PARTITIONS", 4)
    fanned = pq.fan_out(small)
    assert "RoundRobinPartitioning(4)" in plan_of(fanned), plan_of(fanned)[:400]
    explicit = pq.fan_out(small, min_partitions=8)
    assert "RoundRobinPartitioning(8)" in plan_of(explicit)


def test_threshold_limits_join_is_broadcast(qplan):
    plan = qplan("threshold_validation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Tables bucketed on the same key/count must join without shuffling
    either side — the co-located fact x fact layout for 100 TB."""
    from full_data_infrastructure_spark.sources.parquet import load_table
    from full_data_infrastructure_spark.sources.sinks import write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(
        orders.select("o_orderkey", "o_totalprice"),
        "orders_bkt", ("o_orderkey",), num_buckets=8,
    )
    write_bucketed(
        lineitem.select("l_orderkey", "l_quantity"),
        "lineitem_bkt", ("l_orderkey",), num_buckets=8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_bkt").join(
            spark.table("lineitem_bkt"),
            spark.table("orders_bkt")["o_orderkey"]
            == spark.table("lineitem_bkt")["l_orderkey"],
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # cross-check the layout actually answers the join correctly
        n_bucketed = joined.count()
        n_plain = lineitem.join(
            orders, orders["o_orderkey"] == lineitem["l_orderkey"]
        ).count()
        assert n_bucketed == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_rollup_merge_equals_direct_aggregation(spark, sf_dir):
    """Losslessness of the continuous aggregate: merging hourly partials
    to weekly must equal aggregating raw events to weekly (a coarser unit
    than the oracle-checked daily, so the merge path is exercised on a
    different granularity)."""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.operators.rollup import (
        merge_partials,
        rollup_partials,
    )
    from full_data_infrastructure_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    merged = merge_partials(rollup_partials(events), unit="week")
    direct = events.groupBy(
        F.date_trunc("week", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    m = {tuple(r[:2]): tuple(r[2:]) for r in merged.collect()}
    d = {tuple(r[:2]): tuple(r[2:]) for r in direct.collect()}
    assert m == d


def test_flagship_is_one_lazy_chain(qplan):
    """The reference's batch job forces ~8 eager actions and staged
    materializations (SURVEY.md §3.2); the engine keeps ONE lazy plan: all
    base-table scans appear in a single physical plan, with no materialized
    intermediate (ExistingRDD/LocalTableScan) boundaries."""
    plan = qplan("flagship_benefits")
    scans = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert len(scans) >= 3, plan  # orders+customer+lineitem in one plan
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" not in plan


def test_subqueries_plan_as_semi_anti_joins(qplan):
    """EXISTS/IN must compile to (broadcast) semi joins and NOT EXISTS to
    an anti join — never a per-row re-execution or a cartesian product."""
    semi = qplan("exists_subquery")
    anti = qplan("not_exists_subquery")
    inq = qplan("in_subquery")
    assert "LeftSemi" in semi, semi
    assert "LeftAnti" in anti, anti
    assert "LeftSemi" in inq, inq
    for p in (semi, anti, inq):
        assert "CartesianProduct" not in p


def test_pivot_prunes_scan_and_avoids_expand(qplan):
    """The explicit-value pivot must prune the events scan to the two
    referenced columns and not fall back to an Expand-based plan."""
    plan = qplan("pivot_event_counts")
    assert "Expand" not in plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, plan
    for line in read_schemas:
        assert "props" not in line and "user_id" not in line, line


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """The scale fix for the reference's unpartitioned writes: a
    date-partitioned table read with a date predicate must show partition
    filters at the scan (only matching directories are listed/read)."""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.sources.parquet import load_table
    from full_data_infrastructure_spark.sources.sinks import write_overwrite

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    write_overwrite(events, path, fmt="parquet", partition_by=("day",))

    one_day = events.select("day").distinct().orderBy("day").first()["day"]
    read = spark.read.parquet(path).filter(F.col("day") == one_day)
    plan = plan_of(read)
    part_filters = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_filters, plan
    assert any("day" in l and "isnotnull" in l.lower() or one_day in l for l in part_filters), plan
    # and the filtered read returns exactly that day's rows
    expected = events.filter(F.col("day") == one_day).count()
    assert read.count() == expected


def test_builders_trigger_no_data_jobs(registry_audit):
    """Query builders must return ONE lazy plan: no builder may run a
    data-touching Spark job (an eager .count()/.collect()/.first()) before
    the returned DataFrame is acted on — at 100 TB a hidden action is a
    full extra corpus pass. Two exceptions, both inherent (see
    ``ITERATIVE_BY_DESIGN``):

    * every ``spark.read.parquet`` fires a 1-task ``load at …`` job that
      reads only file footers for schema inference — allowed;
    * genuinely iterative/replaying builders must materialize as they go —
      exempted by name.

    The probe itself runs inside the shared ``registry_audit`` fixture
    (one build per query for the whole module)."""
    _, eager = registry_audit
    assert not eager, f"builders ran data jobs before execution: {eager}"


def test_registry_wide_plan_anti_patterns(registry_audit):
    """Mechanizes the per-round anti-pattern audit across the WHOLE
    registry, so a future registration can't reintroduce what the
    per-query gates only pin for today's queries: no registered query's
    physical plan may contain an un-broadcast ``CartesianProduct`` (the
    audited crossJoin sites are all broadcast-of-one-row-aggregate or
    bounded grids, which compile to BroadcastNestedLoopJoin) or a
    row-at-a-time ``BatchEvalPython`` stage (Arrow-batched
    ``ArrowEvalPython`` / ``mapInPandas`` / ``FlatMapGroupsInPandas``
    are the engine's only allowed Python surfaces). Plans come from the
    shared ``registry_audit`` pass."""
    plans, _ = registry_audit
    offenders = {}
    for name, plan in sorted(plans.items()):
        bad = [
            pat
            for pat in ("CartesianProduct", "BatchEvalPython")
            if pat in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan anti-patterns crept in: {offenders}"


def test_anti_pattern_markers_still_match_spark_output(spark):
    """Canary for the registry-wide grep above: build one deliberately bad
    plan of each class and assert its marker string still appears in the
    explain output.  The gate matches literal physical-node names, so a
    Spark upgrade that renamed ``CartesianProduct`` or ``BatchEvalPython``
    would otherwise DISARM the sweep silently — every query would pass not
    because the plans are clean but because the grep matches nothing."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Defeat the broadcast fallback so the cross join compiles to the
        # un-broadcast CartesianProduct node the gate hunts.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cross = spark.range(3).crossJoin(spark.range(3).withColumnRenamed("id", "id2"))
        assert "CartesianProduct" in plan_of(cross)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)

    from pyspark.sql.functions import udf

    rowwise = udf(lambda x: x + 1, "long")
    bad_udf = spark.range(3).select(rowwise("id").alias("v"))
    assert "BatchEvalPython" in plan_of(bad_udf)


def test_pack_sequences_shuffles_counts_not_text(qplan):
    """Sequence packing must compute token counts BEFORE the bucket
    shuffle: only (doc_id, bucket, n_tok, ord_key) cross the exchange —
    shuffling document text at 100 TB would move the whole corpus."""
    plan = qplan("pack_sequences")
    # In the formatted detail section, each "(N) Exchange" block's Input
    # line lists the columns crossing the shuffle — text must not be there
    # (the projection computing n_tok FROM text sits below the exchange).
    lines = plan.splitlines()
    exchange_inputs = []
    for i, line in enumerate(lines):
        if line.startswith("(") and "Exchange" in line:
            for detail in lines[i + 1 : i + 4]:
                if detail.strip().startswith("Input"):
                    exchange_inputs.append(detail)
    assert exchange_inputs, plan  # the bucket shuffle exists
    assert all("text#" not in l for l in exchange_inputs), plan


def test_mixture_sample_broadcasts_rates_single_fact_scan(qplan):
    """The per-language rate table must broadcast onto ONE scan of the
    fact, and the rate derivation must reuse one lang-column scan (a
    second .agg consumer would re-scan the corpus)."""
    plan = qplan("mixture_sample")
    # Count only the numbered operator headers, not detail-section echoes.
    scans = [
        l for l in plan.splitlines() if l.strip().startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) == 2, plan  # fact + one lang-aggregate scan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_layout_prunes_more_files(spark, sf_dir, tmp_path):
    """The z-order layout's whole point is footer-stats file skipping on
    MORE than one column: under a single-column (l_partkey) range layout
    every file spans the full l_suppkey domain, so a suppkey predicate
    overlaps every footer; under z-order each file covers a compact 2-D
    tile and the same predicate prunes most of them. Counted directly
    from the parquet footers a scan planner would consult."""
    import glob
    import os

    import pyarrow.parquet as pq

    from full_data_infrastructure_spark.operators.layout import zorder_layout
    from full_data_infrastructure_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    linear = os.path.join(tmp_path, "linear")
    zpath = os.path.join(tmp_path, "zorder")
    li.repartitionByRange(16, "l_partkey").write.parquet(linear)
    zorder_layout(li, "l_partkey", "l_suppkey", 16, zpath)

    lo = hi = 3  # one supplier: ~10% of the l_suppkey domain, all partkeys

    def overlapping(path: str) -> tuple[int, int]:
        total, overlap = 0, 0
        for f in glob.glob(os.path.join(path, "part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = next(
                i
                for i in range(md.num_columns)
                if md.schema.column(i).name == "l_suppkey"
            )
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            total += 1
            if mins and min(mins) <= hi and max(maxs) >= lo:
                overlap += 1
        return overlap, total

    z_hit, z_total = overlapping(zpath)
    lin_hit, lin_total = overlapping(linear)
    # Same predicate must touch strictly fewer z-ordered footers, and the
    # pruning must be substantial, not incidental.
    assert lin_hit == lin_total, "1-D layout should overlap every file"
    assert z_hit < lin_hit
    assert z_hit <= z_total // 2, f"z-order pruned only {z_total - z_hit}/{z_total}"
    # Both layouts hold the same rows — layout is not allowed to drop data.
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(linear).count()
        == li.count()
    )


def test_semantic_dedup_broadcasts_centroids(qplan):
    """dedup_semantic's only corpus-wide joins are against broadcast
    tables (stride aggregate + centroids); the pairwise stage must key on
    cell_id, never cross-join the corpus with itself."""
    plan = qplan("dedup_semantic")
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_is_map_only(qplan):
    """The scorer folds each row's own gram array with a higher-order
    ``aggregate`` — the weight is a pure function of the gram's md5
    bucket, so there must be NO gram explode (Generate), NO weight-table
    join of any strategy, and NO per-doc_id aggregation exchange: at
    100 TB the whole scorer is a map-only pass over the scan.  The only
    exchange allowed is the scale-adaptive fan_out round-robin, which
    exists solely below the compute and vanishes at warehouse scale."""
    plan = qplan("quality_classifier")
    for node in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "Generate",
    ):
        assert node not in plan, node
    assert "hashpartitioning" not in plan


def test_runtime_bloom_filter_injection(spark, sf_dir, queries):
    """runtime_filtered_join must stay declarative enough for Catalyst's
    InjectRuntimeFilter to fire in the regime a 100 TB join runs in: with
    broadcast off (the filtered dimension is too big to ship at scale)
    and the application-side size gate lowered to test scale, the
    optimizer must build a bloom filter over the filtered orders keys and
    apply might_contain to the lineitem side BEFORE its shuffle."""
    saved = {
        key: spark.conf.get(key, None)
        for key in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        plan = plan_of(queries["runtime_filtered_join"](spark, sf_dir))
        assert "might_contain" in plan, plan
        # the bloom probe must sit on the lineitem (application) side
        assert "bloom_filter_agg" in plan or "BloomFilter" in plan, plan
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_domain_cap_truncates_map_side(spark, sf_dir, queries):
    """The per-domain cap must plan as WindowGroupLimit with a PARTIAL
    (pre-exchange) phase: each map partition truncates to its local
    top-K per source before the shuffle, so a hub domain ships
    K x partitions rows, never its full count."""
    plan = queries["domain_cap_sample"](spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, f"no map-side partial truncation:\n{plan}"


def test_scd2_fold_never_shuffles_standing_table(spark, sf_dir, queries):
    """scd2_apply_batch's scale contract: the standing version table must
    reach both the untouched anti-join and the replayed semi-join WITHOUT
    an Exchange — the broadcast hint on the batch's touched-user set makes
    both standing-side joins BroadcastHashJoins at plan time, so a fold's
    cost over a 10 TB version table is a scan, never two full shuffles.
    The shuffles that remain are batch-sized (the touched-set distinct)
    or touched-users-sized (the recompress window) — never standing-sized:
    with standing materialized to parquet exactly like the sink stores it,
    a non-broadcast Exchange over standing could only come from a
    sort-merge join, and there is none."""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.operators.windows import (
        scd2_apply_batch,
        scd2_versions,
    )
    from full_data_infrastructure_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cut = ev.selectExpr("percentile_approx(ts, 0.9) AS p").first()["p"]
    import tempfile

    vdir = tempfile.mkdtemp(prefix="scd2_plan_")
    scd2_versions(ev.filter(F.col("ts") < cut)).write.mode("overwrite").parquet(vdir)
    standing = spark.read.parquet(vdir)
    plan = plan_of(scd2_apply_batch(standing, ev.filter(F.col("ts") >= cut)))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    # formatted explain prints each operator twice (tree + detail); count
    # the detail headers "(N) Exchange" so each shuffle counts once.
    import re

    shuffles = re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M)
    # two touched-set distincts (batch-sized) + one recompress window
    # (touched-users-sized); anything more means standing shuffled.
    assert len(shuffles) <= 3, plan


def test_scd2_windows_share_one_exchange(spark, sf_dir, queries):
    """scd2_history's docstring claims the compress window and the
    finalize window share one hash partitioning and sort order (valid_from
    IS ts on surviving rows), so the whole query plans with a single
    Exchange and a single Sort — pin it."""
    plan = queries["scd2_history"](spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("+- Sort") == 1, plan


def test_profile_columns_single_scan(spark, sf_dir, queries):
    """profile_columns' whole point is ONE pass for N columns: all four
    columns' statistics must compute in a single aggregate over a single
    lineitem scan (the oracle's UNION ALL is the N-pass naive form). A
    second FileScan would mean the stack() unpivot or the agg re-read
    the table — the 1-pass-vs-N-passes claim would be false at 100 TB."""
    plan = plan_of(queries["profile_columns"](spark, sf_dir), "simple")
    assert plan.count("FileScan parquet") == 1, plan
    # One partial + one final HashAggregate pair, nothing per-column.
    assert plan.count("HashAggregate") == 2, plan


def test_cooccurrence_reuses_distinct_projection(spark, sf_dir, queries):
    """event_cooccurrence_lift persists the (user, type) distinct
    projection that feeds totals, singles, and both sides of the pair
    self-join — the executed plan must show InMemoryTableScan reuse
    instead of recomputing the distinct shuffle up to four times."""
    from full_data_infrastructure_spark.cache import release_persisted

    # Ambient caches from earlier tests nest InMemoryRelation descriptions
    # (CacheManager reuses the identical cached plan), skewing the textual
    # counts below — assert from a clean cache state.
    release_persisted()
    df = queries["event_cooccurrence_lift"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # totals, singles (x2 aliases), and both self-join sides read the cache.
    assert plan.count("InMemoryTableScan") >= 4, plan
    # Every FileScan must be the cached relation describing its own child
    # plan (printed deeper than an InMemoryRelation line above it; a
    # materialized AQE cache prints final+initial plans, so counts vary) —
    # no consumer reads the raw events parquet directly.
    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "FileScan" not in line:
            continue
        covered = any(
            "InMemoryRelation" in prev and indent(prev) < indent(line)
            for prev in lines[:i]
        )
        assert covered, f"uncached FileScan:\n{line}\n\n{plan}"


def _plan_node(line: str) -> str:
    """Operator text of one tree-string line, without the tree prefix
    and the whole-stage-codegen ``*(n)`` marker."""
    return re.sub(r"^\*\(\d+\) ", "", line.lstrip(" :+-"))


def test_pagerank_iterations_reuse_cached_edge_layout(spark, sf_dir, queries):
    """pagerank persists its edge table hash-partitioned on src so that
    every iteration's join reuses that layout and only the node-sized
    rank table moves. In the executed plan no Exchange may sit directly
    over a scan of the cached edge table (through nothing but a Filter,
    a Project or the cache's query stage): that would be one edge
    shuffle per iteration. AQE coalesces cached plans (session.py), so
    the layout holds only while the cache keeps a fixed width."""
    from full_data_infrastructure_spark.cache import release_persisted

    release_persisted()
    try:
        df = queries["pagerank_parts"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        release_persisted()
    lines = plan.splitlines()
    # The top-level final plan; the initial plan printed after it is the
    # pre-AQE one, planned before the cache's layout was known.
    final = lines[: lines.index("+- == Initial Plan ==")]
    edge_scan = re.compile(r"InMemoryTableScan \[src#\d+L?, dst#\d+L?, d#\d+L?\]")
    assert sum(bool(edge_scan.match(_plan_node(l))) for l in final) == 3, plan
    passthrough = ("Filter", "Project", "TableCacheQueryStage", "InputAdapter")
    for i, line in enumerate(final):
        if not _plan_node(line).startswith("Exchange"):
            continue
        for below in final[i + 1 :]:
            node = _plan_node(below)
            assert not edge_scan.match(node), (
                f"iteration join re-shuffles the cached edges:\n{line}\n\n{plan}"
            )
            if not node.startswith(passthrough):
                break


def test_fuzzy_match_blocks_no_cartesian(qplan):
    """The fuzzy ER join must execute as an equi-join on the mask keys —
    TPC-H supplier names all share one length, so any plan that falls
    back to a length-blocked theta join IS the N^2 cross product."""
    plan = qplan("fuzzy_match_suppliers")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_weighted_sample_truncates_map_side(spark, sf_dir, queries):
    """Per-stratum top-20 must plan as WindowGroupLimit with a Partial
    (pre-exchange) phase, like domain_cap_sample: each map partition
    truncates to its local top-20 per lang before the shuffle."""
    plan = queries["weighted_sample_docs"](spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, f"no map-side partial truncation:\n{plan}"


def test_tpch_q3_take_ordered_pushed_filters(qplan):
    """Q3's top-10 must compile to TakeOrderedAndProject (per-partition
    heaps, never a global sort) and both date predicates must reach the
    parquet scans as pushed filters."""
    plan = qplan("tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l and "LessThan" in l for l in pushed), plan
    assert any("l_shipdate" in l and "GreaterThan" in l for l in pushed), plan


def test_tpch_q5_broadcasts_dims(qplan):
    """The six-way join must broadcast supplier/nation/region — only the
    two fact joins may shuffle — and never degrade to a cartesian plan."""
    plan = qplan("tpch_q5_region_volume")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_session_overlap_join_is_banded_equi(spark, sf_dir, queries):
    """The interval-overlap join must execute as an equi-join on the day
    bucket (with the overlap predicate as a post-condition) — never the
    O(n^2) nested-loop the oracle runs."""
    from full_data_infrastructure_spark.cache import release_persisted

    release_persisted()
    plan = plan_of(queries["session_overlap_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_correlation_matrix_single_scan(spark, sf_dir, queries):
    """All sufficient statistics for every column pair must come from ONE
    aggregate over ONE lineitem scan — the 1-pass-vs-C(N,2)-passes claim."""
    plan = plan_of(queries["correlation_matrix"](spark, sf_dir), "simple")
    assert plan.count("FileScan parquet") == 1, plan


def test_trend_single_scan_single_aggregate(spark, sf_dir, queries):
    """Per-key OLS sufficient statistics: one scan, one partial+final
    aggregate pair — never a pass per key."""
    plan = plan_of(queries["trend_by_event_type"](spark, sf_dir), "simple")
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("HashAggregate") == 2, plan


def test_rare_bigram_reuses_persisted_counts(spark, sf_dir, queries):
    """The per-doc bigram count table feeds both the global frequencies
    and the join side — the executed plan must read the cache twice, so
    the corpus explode runs once."""
    from full_data_infrastructure_spark.cache import release_persisted

    release_persisted()
    df = queries["rare_bigram_quality"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_winnowing_fingerprint_map_only_pruned_scan(qplan):
    """The winnowing fingerprint is one projection pass: no Exchange (no
    shuffle at any corpus size — per-doc work only) and a scan pruned to
    (doc_id, text)."""
    plan = qplan("winnowing_fingerprint")
    assert "Exchange" not in plan, f"winnowing pass shuffles:\n{plan}"
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, plan
    for line in read_schemas:
        assert "lang" not in line and "source" not in line, (
            f"unpruned documents scan: {line}"
        )


def test_aqe_skew_join_engages_on_hot_key(spark):
    """The session claims AQE skew-join protection (session.py); prove it
    ENGAGES: a join with one hot key (30x the rest of the table combined)
    must finalize with SortMergeJoin(skew=true) — the hot partition split
    into advisory-sized chunks at runtime — not one straggler task.  The
    thresholds are lowered test-locally so local-scale data crosses them;
    on the cluster defaults the same mechanics engage at 256 MB."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        # force SMJ: a broadcast join has no skewed shuffle to split
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = (
            spark.range(300_000)
            .select(F.lit(0).alias("k"), F.col("id").alias("a"))
            .union(
                spark.range(10_000).select(
                    (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("a")
                )
            )
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("b")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 310_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE did not split the hot key:\n{plan}"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sqrt_temperature_two_scans_broadcast_rates(qplan):
    """mixture_sqrt_temperature's shape: the lang-sized rate table derives
    from ONE scan (window-min over the per-lang aggregate, not a second
    corpus aggregate) and joins back by BROADCAST — exactly two documents
    scans total and no shuffled join, so the corpus itself never moves."""
    import re

    plan = qplan("mixture_sqrt_temperature")
    # formatted mode lists each node twice (tree + detail); count the
    # detail headers so each scan counts once.
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shard_manifest_single_scan_one_exchange(spark, sf_dir, queries):
    """The shard manifest must stay one pruned scan + one aggregate
    exchange: the shard id is a zero-shuffle projection, and the trailing
    ORDER BY repartitions only the n_shards manifest rows."""
    plan = plan_of(queries["shard_manifest"](spark, sf_dir), "simple")
    assert plan.count("FileScan parquet") == 1, plan
    # scan reads exactly the two columns the manifest needs
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "doc_id" in read_schema[0] and "n_chars" in read_schema[0]
    assert "text" not in read_schema[0], read_schema
    # one hash exchange for the aggregate (partial+final pair); the range
    # exchange is the 16-row ORDER BY, not a data shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert plan.count("HashAggregate") == 2, plan


def test_training_shards_prune_on_read(spark, sf_dir, tmp_path):
    """A trainer rank reading shard_id = K must list ONE directory: the
    partitionBy(shard_id) layout turns the filter into a partition filter
    at the scan, so a backfill of one shard never touches the other 15."""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.operators.layout import (
        write_training_shards,
    )
    from full_data_infrastructure_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "shards")
    write_training_shards(docs, key="doc_id", path=path)

    read = spark.read.parquet(path).filter(F.col("shard_id") == 3)
    plan = plan_of(read)
    part_filters = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_filters and "shard_id" in part_filters[0], plan
    # the pruned read returns exactly shard 3's manifest count
    from full_data_infrastructure_spark.operators.layout import shard_column

    expected = docs.filter(shard_column(F.col("doc_id"), 16) == 3).count()
    assert expected > 0 and read.count() == expected


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """session.py claims AQE partition coalescing (the knob that lets a
    cluster over-provision spark.sql.shuffle.partitions and let runtime
    shrink it); prove it ENGAGES like the skew-join proof: a tiny
    aggregate shuffled across 200 static partitions must finalize with
    an AQEShuffleRead(coalesced) node — not 200 near-empty reducers."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = (
            spark.range(10_000)
            .groupBy((F.col("id") % 50).alias("k"))
            .count()
        )
        assert len(df.collect()) == 50
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "coalesced" in plan, f"AQE did not coalesce:\n{plan}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_aqe_coalesces_cached_plan_partitions(spark, sf_dir):
    """session.py lets AQE coalesce the final stage of a persisted plan
    too: a tracked persist taken after a shuffle must be stored in fewer
    partitions than spark.sql.shuffle.partitions, not as one near-empty
    block per static reducer that every later scan of the cache launches
    a task for. The MinHash (doc_id, sig, sz) cache is the probe: one
    row per document behind a doc_id aggregation."""
    from full_data_infrastructure_spark.cache import (
        release_persisted,
        tracked_persist,
    )
    from full_data_infrastructure_spark.operators.dedup import (
        _sig_sizes_from_hashed,
        hashed_shingles,
    )
    from full_data_infrastructure_spark.sources.parquet import load_table

    release_persisted()
    try:
        docs = load_table(spark, sf_dir, "documents")
        sig_sz = tracked_persist(_sig_sizes_from_hashed(hashed_shingles(docs)))
        assert sig_sz.count() > 0
        n_parts = sig_sz.rdd.getNumPartitions()
    finally:
        release_persisted()
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_parts < width, (
        f"cached plan kept {n_parts} of {width} static shuffle partitions"
    )


def test_aqe_switches_smj_to_broadcast_at_runtime(spark):
    """session.py claims AQE dynamic join-strategy switching; prove it
    ENGAGES: with the STATIC broadcast threshold off (the planner books
    a sort-merge join) but the ADAPTIVE threshold on, a join whose build
    side turns out tiny at runtime must finalize as a BroadcastHashJoin
    — the re-plan that saves a 100 TB fact shuffle when a filtered
    dimension's true size only becomes known after its stage runs."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)
        )
        left = spark.range(200_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("a")
        )
        right = (
            spark.range(200_000)
            .select((F.col("id") % 1000).alias("k"))
            .filter(F.col("k") < 10)
            .distinct()
        )
        j = left.join(right, "k")
        # collect() (not count()) so the inspected queryExecution is the
        # one that actually ran — count() compiles a separate plan.
        assert len(j.collect()) == 2000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan, (
            f"AQE did not switch SMJ->broadcast:\n{plan}"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
