"""Structured Streaming extensions (SURVEY §2.5 note, §7 phase 5).

The reference is batch-only (six-month EIA files re-downloaded
wholesale, ETL.py:56-77); these operators are the streaming-native form
of its hourly→daily rollup, plus stateful custom aggregation.
"""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def pinned_stream_partitions(spark):
    """Pin ``spark.sql.shuffle.partitions`` to ``defaultParallelism``
    while a streaming query starts, then restore.

    A streaming query bakes the shuffle-partition count into its state
    store layout at start, and each stateful operator opens and commits
    one store PER partition PER micro-batch: fixed wall time whatever
    the state holds (measured: 22.6 s of executor run for 0.6 s of
    CPU).  One store per task slot runs them in one wave; more only add
    waves, and a driver-handed vanilla session carries the 200 default.
    A durable checkpoint keeps the count it was first started with:
    Spark restores ``spark.sql.shuffle.partitions`` from the offset log
    on restart."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def rocksdb_state_store(spark):
    """Run a streaming query with the RocksDB state store provider.

    The default HDFSBackedStateStoreProvider keeps every state-store
    version as deserialized JVM objects on the executor heap — at
    100-TB stream scale (large keyspaces: per-user dedup sets,
    session windows over millions of users) that heap residency is the
    first thing to fall over.  RocksDB keeps state off-heap on local
    SSD with incremental checkpointing to the checkpoint location, so
    state size is bounded by disk, not heap.  The provider is baked
    into stock Spark 4 — no extra jars.  Like the partition count, the
    provider is fixed at the query's FIRST start; gate/test drains use
    throwaway checkpoints so toggling here is safe."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def drain_available_now(
    stream_df,
    sink_prefix: str,
    output_mode: str = "complete",
    finish=None,
):
    """GATE-ONLY drain: run a (static-source) streaming DataFrame to
    completion through a memory sink and return the final table.

    Without ``finish`` the memory-sink frame itself is returned: its
    plan holds the ``MemorySink``, whose rows already sit on the
    driver, so dropping the sink's view on return leaks nothing and
    costs no copy.  ``finish(table, ckpt)`` post-processes the drained
    table while the checkpoint is still on disk (statestore tail
    reads); its result is checkpointed (``localCheckpoint``), because
    it may read the checkpoint directory, which is deleted on return.

    Shared by the batch-equivalence gates (daily rollup, sessions,
    enrichment, heavy hitters, markov, cusum, ohlc, minhash dedup) —
    complete-mode memory sinks re-emit the whole result per trigger
    and hold it on the driver, fine for bounded aggregates, wrong for
    unbounded keyspaces; production paths route through the
    foreachBatch merges instead (incremental_rollup.py)."""
    import shutil
    import tempfile
    import uuid

    spark = stream_df.sparkSession
    sink = f"{sink_prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ecf_stream_ckpt_")
    try:
        with pinned_stream_partitions(spark):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(sink)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.table(sink)
        if finish is None:
            return out
        return finish(out, ckpt).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(sink)


def txn_seen(state_dir: str, key: str) -> bool:
    """True iff ``txn_record(state_dir, key)`` already ran.

    The foreachBatch exactly-once guard: Spark's sink side effects are
    at-least-once (a crash between the sink commit and the offset
    commit replays the batch), so idempotent sinks record
    ``"<run_id>/<batch_id>"`` here before finishing.  The key MUST be
    scoped by a run/lineage id derived from the CHECKPOINT location —
    a bare batch_id restarts at 0 with every fresh checkpoint and
    would dedupe AWAY genuinely new data (round-4 review finding).
    The log lives in its own file, so snapshot retention (vacuum)
    cannot erase it."""
    import json
    import os

    p = os.path.join(state_dir, "_txn.json")
    if not os.path.exists(p):
        return False
    with open(p) as f:
        return key in json.load(f)


def txn_record(state_dir: str, key: str) -> None:
    """Append ``key`` to the transaction log (atomic replace)."""
    import json
    import os

    os.makedirs(state_dir, exist_ok=True)
    p = os.path.join(state_dir, "_txn.json")
    entries = []
    if os.path.exists(p):
        with open(p) as f:
            entries = json.load(f)
    if key in entries:
        return
    tmp = p + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(entries + [key], f)
    os.replace(tmp, p)


def run_id_for_checkpoint(checkpoint_dir: str) -> str:
    """Stable lineage id for a checkpoint location: batch ids are only
    unique WITHIN one checkpoint's lineage, so txn keys pair this with
    the batch id."""
    import hashlib

    return hashlib.sha1(
        checkpoint_dir.rstrip("/").encode()
    ).hexdigest()[:12]


def cents_half_up(values) -> "pd.Series":  # noqa: F821 — pandas via caller
    """Float dollars → integer cents with the SAME rounding as the
    engines' double→DECIMAL(18,2) cast (HALF_UP on the shortest-repr
    decimal — Java's BigDecimal.valueOf semantics, which Spark's
    Decimal(double) uses).  pandas ``round()`` is half-EVEN and
    diverges by one cent on exact half-cent values; this helper is the
    one sanctioned conversion for stream state handlers."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    one = Decimal("1")
    return pd.Series(
        [
            int(
                Decimal(repr(float(v))).scaleb(2).quantize(one, ROUND_HALF_UP)
            )
            for v in values
        ],
        index=getattr(values, "index", None),
        dtype="int64",
    )
