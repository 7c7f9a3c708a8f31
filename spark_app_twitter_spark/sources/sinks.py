"""Sinks: partitioned parquet stream sink, idempotent foreachBatch
upsert, and the (optional) MongoDB serving sink.

The reference's sinks: S2 checkpointed parquet stream sink
(``spark_app/functions/functions.py:47-54``) and S4 MongoDB append
(``functions.py:117``). The append-only Mongo sink is why its
dashboard must dedup on read — the engine's foreachBatch sink
upserts by key instead, making reruns idempotent.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from spark_app_twitter_spark.functions.caches import unpersist_frame


@contextmanager
def session_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set session conf keys for the body only, then restore each to
    its previous value (or unset it if it had none)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def write_partitioned_parquet_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: Sequence[str] = ("date", "hour"),
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """S2: exactly-once parquet datalake sink, hive-partitioned.

    Exactly-once comes from checkpoint + the sink's _spark_metadata
    commit log. ``availableNow`` drains the source and stops —
    deterministic for tests and batch-backfill runs.
    """
    w: DataStreamWriter = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_cols)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def upsert_parquet_batch(
    batch: DataFrame, batch_id: int, path: str, keys: Sequence[str]
) -> None:
    """foreachBatch body: last-writer-wins upsert into a parquet
    serving table.

    Reads current state, anti-joins out rows whose key appears in
    the incoming batch, unions, rewrites. (Parquet has no row-level
    merge; with Delta/Iceberg this becomes a MERGE INTO and the
    rewrite disappears — the foreachBatch contract is unchanged.)
    Deterministic under retries: re-applying the same batch yields
    the same table (idempotent upsert), which is exactly the
    guarantee foreachBatch needs since a batch may be re-run.

    Contract, per call:

    - ``batch`` is executed exactly once: the anti-join key side and
      the union both read it, so it is checkpointed first. Re-run
      from its plan, a streaming batch would re-run (and re-commit)
      the stateful stage behind it.
    - An empty batch writes nothing: the table (or its absence) is
      left as it was. A watermark-advance micro-batch, which carries
      no rows, still commits its state through that one execution.
    - Every block the call stores is released before it returns.
    - The table is rewritten as one file (``coalesce(1)``, no
      shuffle). That holds because the serving table has one row per
      key, i.e. per (hour, topic): 43,800 rows for 5 topics over a
      year, whatever the event volume. One file means one scan task
      for the next upsert and for every dashboard read, where a
      rewrite per partition of (scan ∪ batch) left several small
      files. A table keyed by something that grows with the events
      would need a file count that grows with it.
    """
    spark = batch.sparkSession
    batch = batch.localCheckpoint(eager=True)
    held = [batch]
    try:
        if batch.isEmpty():
            return
        try:
            current = spark.read.parquet(path)
        except Exception as e:
            # ONLY the missing-path case means "first batch". Any other
            # read failure (permissions, corrupt footer, concurrent
            # writer) must fail the streaming query loudly — falling
            # through would overwrite the serving table with just this
            # micro-batch (unbounded data loss).
            if not _is_missing_path(e):
                raise
            out = batch.coalesce(1)
        else:
            remaining = current.join(
                batch.select(*keys).dropDuplicates(keys), list(keys), "left_anti"
            )
            # Sever lineage before overwriting the path we just read
            # from — a lazy plan would delete its own input mid-scan.
            out = remaining.unionByName(batch).coalesce(1).localCheckpoint(eager=True)
            held.append(out)
        out.write.mode("overwrite").parquet(path)
    finally:
        for df in held:
            unpersist_frame(df)


def _is_missing_path(e: Exception) -> bool:
    err_class = ""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if callable(fn):
            try:
                err_class = fn() or ""
                break
            except Exception:
                pass
    return "PATH_NOT_FOUND" in err_class or "Path does not exist" in str(e)


def write_upsert_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """S4 replacement: streaming upsert into the serving table via
    foreachBatch — idempotent by key, so the dashboard's
    dedup-on-read workaround (``streamlit/utilities/utilities.py:27``)
    becomes unnecessary (the engine still ships it as a serving
    query for parity)."""
    w = (
        df.writeStream.foreachBatch(
            lambda b, i: upsert_parquet_batch(b, i, path, keys)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def mongo_write_options(uri: str, database: str, collection: str) -> dict[str, str]:
    """The EXACT option dict the mongo-spark connector receives —
    single source of truth shared by :func:`write_mongo_batch` and
    the connector contract test (reference surface:
    ``spark_app/functions/functions.py:117``)."""
    return {
        "spark.mongodb.write.connection.uri": uri,
        "spark.mongodb.write.database": database,
        "spark.mongodb.write.collection": collection,
    }


def write_mongo_batch(df: DataFrame, uri: str, database: str, collection: str):
    """S4: the mongodb append sink. With the connector jar this is
    the live cluster write; since round 8 the registered Python wire
    twin (sources/mongo_pysource.py) serves the same format name in
    tests, so ``save()`` executes the full plan -> per-partition
    write -> two-phase commit path either way."""
    return (
        df.write.format("mongodb")
        .mode("append")
        .options(**mongo_write_options(uri, database, collection))
    )


def write_mongo_stream(
    df: DataFrame,
    uri: str,
    database: str,
    collection: str,
    checkpoint: str,
    extra_options: dict[str, str] | None = None,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """The reference's EXACT EP2->EP3 wiring as a streaming query:
    per micro-batch, append the aggregate rows to the MongoDB
    collection (reference ``spark_app/functions/functions.py:117`` —
    append-only, dashboard dedups on read). foreachBatch + the batch
    writer, so the sink contract is identical for cron-style batch
    jobs and the streaming replacement; with the wire twin registered
    the path executes end-to-end in tests."""

    def _emit(batch: DataFrame, batch_id: int) -> None:
        w = write_mongo_batch(batch, uri, database, collection)
        if extra_options:
            w = w.options(**extra_options)
        w.save()

    w = (
        df.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def mongo_read_options(uri: str, database: str, collection: str) -> dict[str, str]:
    """S5 read-side option dict (single source of truth, mirroring
    :func:`mongo_write_options`; reference dashboard surface:
    ``streamlit/main.py:34-39``)."""
    return {
        "spark.mongodb.read.connection.uri": uri,
        "spark.mongodb.read.database": database,
        "spark.mongodb.read.collection": collection,
    }


def read_mongo_batch(
    spark: SparkSession,
    uri: str,
    database: str,
    collection: str,
    schema: str | None = None,
    extra_options: dict[str, str] | None = None,
):
    """S5: dashboard batch source over the mongodb format. With the
    connector jar this hits a live cluster; in tests the registered
    Python wire twin (sources/mongo_pysource.py) serves the same
    format name, so this builder executes verbatim either way
    (``extra_options`` carries harness-side knobs like the twin's
    store root; the real connector ignores unknown options)."""
    r = spark.read.format("mongodb").options(
        **mongo_read_options(uri, database, collection),
        **(extra_options or {}),
    )
    if schema is not None:
        r = r.schema(schema)
    return r.load()


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_key: str,
    sort_cols: Sequence[str] = (),
) -> None:
    """Export a training corpus as exactly ``n_shards`` parquet files,
    rows hash-distributed by ``shard_key`` and sorted inside each
    shard.

    repartition(n, key) fixes the file count and makes shard
    membership a pure function of the key (stable across reruns —
    loaders can resume shard-by-shard); sortWithinPartitions orders
    rows without a global sort. At 100 TB this is the standard
    dataloader-friendly layout: no shard exceeds its hash share, and
    no driver-side coordination happens at all.
    """
    out = df.repartition(n_shards, shard_key)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    # The fixed file count IS the contract: with multi-stage upstream
    # plans, AQE's runtime coalescing can merge the explicit shard
    # shuffle when stats are small and silently emit fewer files —
    # pin it off for just this write.
    with session_conf(
        df.sparkSession, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    ):
        out.write.mode("overwrite").parquet(path)


def compact_parquet_table(
    spark: SparkSession,
    path: str,
    n_files: int,
    sort_cols: Sequence[str] = (),
) -> int:
    """Small-file compaction for an append/upsert-maintained parquet
    table: rewrite into exactly ``n_files`` files, optionally sorted
    within each file so min/max row-group stats support data skipping
    on the sort columns.

    The maintenance job every streaming sink eventually needs —
    micro-batches accrete many small files, and scan cost at 100 TB
    is dominated by file-open overhead once file count outgrows
    task count. Returns the row count (lineage is severed before the
    overwrite for the same read-then-rewrite-safety reason as the
    upsert).
    """
    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out = out.localCheckpoint(eager=True)
    out.write.mode("overwrite").parquet(path)
    # count from the checkpointed blocks — no second scan of the
    # just-written table
    return out.count()
