"""Physical-plan contracts, pinned as tests (PLANS.md is the generated
artifact; these assertions guard the load-bearing plan properties
against optimizer/implementation regressions)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    from energy_consumption_forecasting_spark.queries import load_all

    qs, _ = load_all()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        qs[name](spark, SF_SMALL).explain("formatted")
    return buf.getvalue()


# Queries whose plans must never contain a cartesian/BNL shape: the
# pair-join family (the named 100-TB scale-killer) plus the join-heavy
# relational spine.  Stat-broadcast crossJoins (1-row frames) are NOT
# in this list by design — those are deliberate scalar broadcasts.
NO_BNL = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_prefix_filter_join",
    "dedup_semantic",
    "sim_bucketed_ann",
    "sim_knn_graph",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q8_market_share",
    "pipeline_contamination",
    "j9_lateral_topn",
]


@pytest.mark.parametrize("name", NO_BNL)
def test_no_cartesian_or_bnl(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNL join"


def test_q6_filters_reach_the_scan(spark):
    plan = _plan(spark, "tpch_q6_revenue_change")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    assert any(p.strip() for p in pushed), "no pushed filters on q6 scan"


def test_q1_reads_only_needed_columns(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no ReadSchema in plan — the regex guard went blind"
    # parse field NAMES only (robust to parameterized types like
    # decimal(12,2) whose commas a naive split would break on)
    cols = {m for s in schemas for m in re.findall(r"(?:^|,)(\w+):", s)}
    # the pricing summary needs 7 lineitem columns; reading more means
    # projection pruning broke
    assert 0 < len(cols) <= 7, f"q1 reads {sorted(cols)}"


def test_broadcast_dim_join_stays_broadcast(spark):
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_basket_pairs_single_shuffle_no_selfjoin(spark):
    """a_basket_pairs must stay the array-explode shape: the only join
    is the broadcast a-priori prune — any SortMergeJoin means the
    basket self-join crept back (two shuffles of the line table)."""
    plan = _plan(spark, "a_basket_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan, "basket self-join regressed"
    assert "BroadcastHashJoin" in plan  # the a-priori prune
    assert "Generate" in plan  # the row-local pair explode


def test_markov_window_partitions_by_user(spark):
    """The lag window must partition by user_id — a global (empty
    partition-by) window here would serialize the whole event table
    through one task."""
    plan = _plan(spark, "w_markov_transitions")
    assert re.search(r"partitionBy=\[user_id", plan) or re.search(
        r"\[user_id[^\]]*\], \[ts", plan
    ), "lag window lost its user_id partitioning"


def test_unpartitioned_window_guard(spark):
    """The plan-audit invariant: an unpartitioned Window is flagged on a
    raw table, tolerated above an Aggregate or a literal frame."""
    import sys

    from tests.conftest import TOOLS_DIR

    sys.path.insert(0, TOOLS_DIR)
    from plan_audit import audit_unpartitioned_windows

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    raw = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    bad = raw.select(
        "l_orderkey", F.row_number().over(Window.orderBy("l_shipdate")).alias("rn")
    )
    assert audit_unpartitioned_windows(bad), "raw-table global window not flagged"

    agg = raw.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    good = agg.select(
        "l_returnflag", F.row_number().over(Window.orderBy("s")).alias("rn")
    )
    assert audit_unpartitioned_windows(good) == []

    lit = spark.createDataFrame([(1,), (2,)], "x int")
    good2 = lit.select("x", F.row_number().over(Window.orderBy("x")).alias("rn"))
    assert audit_unpartitioned_windows(good2) == []

    partitioned = raw.select(
        "l_orderkey",
        F.row_number()
        .over(Window.partitionBy("l_returnflag").orderBy("l_shipdate"))
        .alias("rn"),
    )
    assert audit_unpartitioned_windows(partitioned) == []


def test_unpartitioned_window_guard_rdd_leaf_attribution(spark):
    """r8 advice: inside a cached plan, an RDDScanExec leaf is bounded
    only when attributable to DRIVER-LITERAL data (ParallelCollectionRDD
    root).  A localCheckpoint of a corpus-sized frame also compiles to
    RDDScanExec — the audit must NOT silently pass an unpartitioned
    window over it."""
    import sys

    from tests.conftest import TOOLS_DIR

    sys.path.insert(0, TOOLS_DIR)
    from plan_audit import audit_unpartitioned_windows

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.orderBy("x")

    lit = spark.createDataFrame([(i,) for i in range(5)], "x int").persist()
    try:
        lit.count()  # materialize the cache so the audit sees its plan
        assert (
            audit_unpartitioned_windows(
                lit.withColumn("rn", F.row_number().over(w))
            )
            == []
        )
    finally:
        lit.unpersist()

    corpus = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(F.col("l_orderkey").alias("x"))
        .localCheckpoint()
        .persist()
    )
    try:
        corpus.count()
        flagged = audit_unpartitioned_windows(
            corpus.withColumn("rn", F.row_number().over(w))
        )
        assert flagged, "checkpointed-corpus global window not flagged"
    finally:
        corpus.unpersist()


def test_calendar_bounded_window_contract_all_queries(spark):
    """r9 VERDICT item 5: the unpartitioned-window queries
    (w8_sequence_windows, j3_asof_ffill_join, w2_unbounded_fill and
    kin) are safe ONLY because their window input is a calendar-bounded
    aggregate (<= #days rows).  Nothing but this test enforces that a
    future edit doesn't hand them a corpus-sized frame: it runs the
    plan-audit invariant (unpartitioned Window must sit above an
    Aggregate / literal / attributably-bounded cache) over EVERY
    registered query whose construction is pure — the same audit
    tools/plan_audit.py applies to the AUDITED subset at PLANS.md
    regeneration time, promoted to CI for the full registry.  Repoint
    any of these windows at a raw fact table and this fails."""
    import sys

    from tests.conftest import TOOLS_DIR

    sys.path.insert(0, TOOLS_DIR)
    from plan_audit import audit_unpartitioned_windows

    from energy_consumption_forecasting_spark.queries import load_all
    from tests.test_construction_purity import EXEMPT

    qs, _ = load_all()
    # the verdict-named queries must be in scope (pure construction)
    for must in ("w8_sequence_windows", "j3_asof_ffill_join",
                 "w2_unbounded_fill", "w9_lag_features",
                 "w11_rolling_mean"):
        assert must in qs and must not in EXEMPT, must
    offenders: dict[str, list[str]] = {}
    for name in sorted(qs):
        if name in EXEMPT:
            continue  # construction launches jobs (drains/fits) by contract
        v = audit_unpartitioned_windows(qs[name](spark, SF_SMALL))
        if v:
            offenders[name] = v
    assert not offenders, (
        "unpartitioned Window over an unbounded frame (calendar-bounded "
        f"window contract broken): {offenders}"
    )


# --- fanout splittability rule (r11 verdict item 3) ---------------------------
#
# The scan-site fanout exists ONLY because the testdata parquet is a
# single unsplittable row group: at 100 TB the source is splittable and
# the repartition would be a full extra exchange of the fact table.
# The rule: spread iff the parquet files under df.inputFiles() hold
# fewer row groups than defaultParallelism; a non-local source counts
# as splittable.  These tests pin both sides of the rule.


def _write_parts(spark, path, n_files, partition_by=None):
    """``n_files`` one-row-group parquet part files under ``path``."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 20_000)
        .withColumn("doc_id", F.col("id"))
        .withColumn("k", F.col("id") % 2)
        .repartition(n_files)
    )
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def test_fanout_gate_skips_on_splittable_source(spark, tmp_path):
    from energy_consumption_forecasting_spark.queries._util import fanout

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide.parquet")
    _write_parts(spark, path, target + 2)
    wide = spark.read.parquet(path)
    assert fanout(wide, "doc_id") is wide, "spread a multi-row-group scan"
    # the rule reads inputFiles(), which survives narrow ops
    narrowed = wide.select("doc_id").filter("doc_id > 5")
    assert fanout(narrowed, "doc_id") is narrowed


def test_fanout_gate_keeps_spread_on_unsplittable_source(spark):
    from energy_consumption_forecasting_spark.queries._util import fanout, tbl

    docs = tbl(spark, SF_SMALL, "documents")
    spread = fanout(docs)
    assert spread is not docs
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    narrowed = docs.select("doc_id", "text")
    assert fanout(narrowed) is not narrowed


def test_fanout_spreads_one_row_group_file_split_by_bytes(spark, tmp_path):
    """A single row group larger than maxPartitionBytes yields many
    byte splits but only one of them reads rows: the spread stays."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from energy_consumption_forecasting_spark.queries._util import fanout

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_group.parquet")
    n = 200_000
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64())}),
        path,
        row_group_size=n,
        compression="none",
    )
    assert pq.read_metadata(path).num_row_groups == 1
    split = os.path.getsize(path) // (2 * target)
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= target  # byte splits, not rows
        assert fanout(df, "doc_id") is not df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)


def test_fanout_skips_on_remote_source(spark, monkeypatch):
    from energy_consumption_forecasting_spark.queries._util import fanout, tbl

    docs = tbl(spark, SF_SMALL, "documents")
    monkeypatch.setattr(
        docs, "inputFiles", lambda: ["s3a://bucket/documents.parquet"]
    )
    assert fanout(docs) is docs


def test_fanout_skips_on_hive_partitioned_tree(spark, tmp_path):
    from energy_consumption_forecasting_spark.queries._util import fanout

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "hive.parquet")
    _write_parts(spark, path, target, partition_by="k")
    assert (tmp_path / "hive.parquet" / "k=1").is_dir()
    tree = spark.read.parquet(path)
    assert len(tree.inputFiles()) >= target
    assert fanout(tree, "doc_id") is tree


def test_tbl_accepts_size_conf_with_unit_suffix(spark):
    """Spark reads '128mb' as 128 MiB; constructing a scan must too."""
    from energy_consumption_forecasting_spark.queries._util import tbl

    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128mb")
        assert tbl(spark, SF_SMALL, "lineitem").columns
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)


def test_q1_filter_pushes_below_fanout_exchange(spark):
    """tpch_q1's shipdate filter sits AFTER the fanout in source order;
    Catalyst must still push it into the scan."""
    plan = _plan(spark, "tpch_q1_pricing_summary")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    assert any("l_shipdate" in p for p in pushed), (
        "shipdate filter no longer reaches the scan:\n" + plan
    )
