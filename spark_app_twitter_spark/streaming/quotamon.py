"""Streaming maintenance of the topic-quota keep set — the
topic-balanced sampler (operators/clustering.cluster_balanced_sample)
run CONTINUOUSLY over the embedding ingest, completing the v4
capstone's streaming story alongside qualitymon's quality-floor
histogram (VERDICT r12 item 8).

Why this folds exactly: the sampler's keep set per cell is the
BALANCED_SAMPLE_CAP lowest deterministic md5 draws (draw asc, vec_id
asc tie-break), and "lowest-K by a total order" is an associative,
commutative, idempotent fold — merging any partition of the corpus
batch-by-batch and re-truncating to K after each merge lands on the
SAME final set as the one-pass batch window. So the stored candidate
state is top-CAP-per-cell at every prefix (bounded at k x CAP rows,
~sqrt(n) x 16), and after the last batch it equals the batch
sampler's keep set bit-for-bit (pinned in tests/test_streaming.py).

Cell sizes (the sampler's acceptance-rate denominator) are NOT
reconstructible from the truncated candidate state, so they ride the
qualitymon discipline: integer-additive per-batch (batch_id, cell, n)
rows with replace-own-batch retry semantics and sentinel compaction.

Cell assignment reads the PUBLISHED centroid artifact (the session
centroid cache — clustering's model contract): a production deployment
trains/publishes centroids offline and the stream assigns against
them, exactly like annserve reads the published IVF tree.

Reference scope note: SURVEY §2.7's streaming mandate x the §2.9
curation family (the same pairing as qualitymon); composes with
qualitymon into the streaming v4 admission read
(:func:`v4_admission_from_state`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from spark_app_twitter_spark.streaming.statestore import (
    read_state,
    transact,
)

_CAND_DDL = "vec_id bigint, cell int, draw long"
_SIZE_DDL = "batch_id long, cell int, n long"

# (applicationId, sf_dir, n_batches) -> served sample frame: the
# replay twin folds once per session and reuses its state dir (no
# checkpoint lives in the serve plan, so the frame itself is the
# only cached object; register_cache gives it the eviction contract).
from spark_app_twitter_spark.functions.caches import register_cache

_REPLAY_SERVES = register_cache({})

# Sizes fold compaction (qualitymon's COMPACT_RETAIN discipline):
# batches older than this many behind the current fold into the
# batch_id=-1 sentinel row, keeping the size state bounded by
# (RETAIN+1) x |cells| regardless of stream age.
SIZE_COMPACT_RETAIN = 16
_SENTINEL = -1


def _cand_path(path: str) -> str:
    return f"{path}/candidates"


def _size_path(path: str) -> str:
    return f"{path}/sizes"


def _fold_quota_delta(
    spark: SparkSession, delta: DataFrame, batch_id: int, path: str
) -> None:
    """Fold one batch's assigned delta (vec_id, cell, draw — unique
    vec_ids) into both state paths. The two folds touch DIFFERENT
    state paths (own flocks, own snapshots), so their
    read-merge-publish jobs overlap (guide §2.6 — per-batch
    decomposition: cand 0.6 s + size 0.45 s serial, all fixed job
    overhead at bench scale). Failure surface is unchanged: a
    foreachBatch retry replays BOTH folds and each is idempotent per
    batch_id, exactly as when a serial first fold committed and the
    second crashed."""
    from spark_app_twitter_spark.operators.clustering import (
        BALANCED_SAMPLE_CAP,
    )

    def merge_cands(stored: DataFrame | None) -> DataFrame:
        allc = delta if stored is None else stored.unionByName(delta)
        w = Window.partitionBy("cell").orderBy(
            F.asc("draw"), F.asc("vec_id")
        )
        return (
            allc.dropDuplicates(["vec_id"])
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= BALANCED_SAMPLE_CAP)
            .select("vec_id", "cell", "draw")
        )

    sdelta = delta.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit(batch_id).cast("long").alias("batch_id"), "cell", "n")

    def merge_sizes(stored: DataFrame | None) -> DataFrame:
        if stored is None:
            return sdelta
        kept = stored.where(F.col("batch_id") != batch_id)
        cutoff = batch_id - SIZE_COMPACT_RETAIN
        aged = F.col("batch_id") < cutoff  # includes the sentinel
        folded = (
            kept.where(aged)
            .groupBy("cell")
            .agg(F.sum("n").cast("long").alias("n"))
            .select(
                F.lit(_SENTINEL).cast("long").alias("batch_id"), "cell", "n"
            )
        )
        return kept.where(~aged).unionByName(folded).unionByName(sdelta)

    # inheritable_thread_target propagates the submitting thread's
    # JVM-local properties (job group/description) into the pool
    # threads, so streaming cancellation and UI attribution reach
    # both transact jobs (ADVICE r15) — plain pool threads start
    # with empty local properties and their jobs escape the group.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        fc = pool.submit(
            inheritable_thread_target(spark)(transact),
            spark, _cand_path(path), _CAND_DDL, merge_cands,
        )
        fs = pool.submit(
            inheritable_thread_target(spark)(transact),
            spark, _size_path(path), _SIZE_DDL, merge_sizes,
        )
        fc.result()
        fs.result()


def apply_quota_batch(
    batch: DataFrame, batch_id: int, path: str, sf_dir: str
) -> None:
    """foreachBatch body: fold one embedding micro-batch (vec_id,
    embedding array<float>) into the quota state.

    Candidates: union stored top-CAP-per-cell with the batch's
    assigned+drawn rows, dropDuplicates on vec_id (a checkpoint
    replay re-presents the same rows — the fold is idempotent, no
    batch_id bookkeeping needed), re-truncate to top-CAP per cell.
    Sizes: replace this batch_id's own rows, then compact aged ones
    into the sentinel (exactly-once under retries)."""
    from spark_app_twitter_spark.operators.clustering import (
        assign_cells,
        balanced_draw_expr,
        kmeans_centroid_rows,
    )

    spark = batch.sparkSession
    # Dedup by vec_id BEFORE sizing so the size fold shares the
    # candidate fold's within-batch idempotence (ADVICE r13): a
    # vec_id presented twice in one micro-batch counts once in both
    # states. Cross-batch re-delivery is governed by the delivery
    # contract on maintain_quota_stream.
    vecs = batch.dropDuplicates(["vec_id"]).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    delta = (
        assign_cells(spark, vecs, kmeans_centroid_rows(spark, sf_dir))
        .select("vec_id", "cell")
        .withColumn("draw", balanced_draw_expr())
        # one assignment pass, two state folds. Kept EAGER: the r15
        # lazy variant (materialize inside the first transact's
        # write job) measured a wash across 3 interleaved cold A/B
        # pairs — the state-store writes dominate this path, and the
        # eager form keeps the replay-vs-stream failure surface
        # identical batch by batch.
        .localCheckpoint(eager=True)
    )
    try:
        _fold_quota_delta(spark, delta, batch_id, path)
    finally:
        from spark_app_twitter_spark.functions.caches import unpersist_frame

        unpersist_frame(delta)  # checkpoint blocks need LogicalRDD release


def quota_sample_from_state(spark: SparkSession, path: str) -> DataFrame:
    """The serving read: candidates + rolled-up sizes reconstruct the
    batch sampler's exact output shape (vec_id, cell, cell_size, rk)
    — after folding the full corpus this equals
    cluster_balanced_sample bit-for-bit."""
    cands = read_state(spark, _cand_path(path), _CAND_DDL)
    sizes = read_state(spark, _size_path(path), _SIZE_DDL)
    if cands is None:
        cands = spark.createDataFrame([], _CAND_DDL)
    if sizes is None:
        sizes = spark.createDataFrame([], _SIZE_DDL)
    cell_sizes = sizes.groupBy("cell").agg(
        F.sum("n").cast("long").alias("cell_size")
    )
    w = Window.partitionBy("cell").orderBy(F.asc("draw"), F.asc("vec_id"))
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(cell_sizes), "cell")
        .select("vec_id", "cell", "cell_size", F.col("rk").cast("long").alias("rk"))
    )


def quota_sample_replayed(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> DataFrame:
    """Batch-drivable registry twin (VERDICT r13 item 6): fold the
    embeddings corpus through :func:`apply_quota_batch` in
    ``n_batches`` modular micro-batches against a fresh state dir,
    then serve :func:`quota_sample_from_state`. Because the candidate
    fold is an associative lowest-K truncation and the size fold is
    integer-additive, the served frame equals the one-pass batch
    sampler (operators/clustering.cluster_balanced_sample) bit-for-bit
    — which is exactly what puts the streaming capstone under the
    driver's DuckDB oracle gate (oracle: CLUSTER_BALANCED_SAMPLE_SQL).

    The state dir is REUSED per (applicationId, sf_dir, n_batches)
    and the served frame session-cached (r14 ADVICE: per-call
    mkdtemp leaked a corpus-derived state dir per bench/oracle
    invocation, and each call re-folded the whole corpus).

    r16 (VERDICT r15 item 4): the replay's batches are BY
    CONSTRUCTION slices of the corpus the published flat cell table
    (clustering.kmeans_cells — the session index artifact every flat
    consumer serves against) already assigns, so each batch delta is
    a narrow filter + draw over that checkpointed artifact instead
    of a per-batch assignment pass + eager checkpoint job (~1 s of
    fixed job overhead per batch, 3 batches). Bit-identical: the
    assignment is a row-wise map against the SAME published centroid
    artifact apply_quota_batch reads, so slicing commutes with
    assigning, and corpus vec_ids are unique (the dropDuplicates in
    the stream body is a no-op on corpus slices). The TRUE streaming
    path (apply_quota_batch via maintain_quota_stream) still assigns
    every micro-batch itself — a stream cannot assume its rows are
    in the corpus index."""
    from spark_app_twitter_spark.operators.clustering import (
        balanced_draw_expr,
        kmeans_cells,
    )
    from spark_app_twitter_spark.streaming.statestore import (
        replay_state_dir,
    )

    key = (spark.sparkContext.applicationId, sf_dir, n_batches)
    hit = _REPLAY_SERVES.get(key)
    if hit is not None:
        return hit
    path = replay_state_dir(spark, "quotamon", sf_dir, n_batches)
    cells = kmeans_cells(spark, sf_dir)
    for i in range(n_batches):
        delta = (
            cells.where(F.col("vec_id") % n_batches == i)
            .select("vec_id", "cell")
            .withColumn("draw", balanced_draw_expr())
        )
        _fold_quota_delta(spark, delta, i, path)
    served = quota_sample_from_state(spark, path)
    _REPLAY_SERVES[key] = served
    return served


def maintain_quota_stream(
    embeddings: DataFrame,
    path: str,
    checkpoint: str,
    sf_dir: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Continuous topic-quota maintenance over an embedding stream
    (any relation carrying ``vec_id`` and ``embedding``).

    Delivery contract (ADVICE r13): the candidate fold is idempotent
    under ANY re-delivery (dropDuplicates on vec_id before the
    truncation), but the size fold is idempotent only per batch_id —
    within-batch duplicates and checkpoint replays of the same
    batch_id count once, while a vec_id re-delivered in a LATER
    micro-batch (at-least-once source duplication across batches)
    double-counts in cell_size. Feed this stream a once-per-corpus
    source (file/Delta sources and transactional Kafka satisfy this);
    exact cross-batch dedup would require O(corpus) seen-id state,
    which the bounded k x CAP design deliberately avoids."""
    w = (
        embeddings.writeStream.foreachBatch(
            lambda b, i: apply_quota_batch(b, i, path, sf_dir)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def v4_admission_from_state(
    spark: SparkSession,
    sf_dir: str,
    hist_path: str,
    quota_path: str,
) -> DataFrame:
    """The streaming v4 curation gate: doc_ids clearing BOTH
    late-r12 capstone stages, derived purely from stream-maintained
    state — the per-source quality floor from qualitymon's histogram
    and the topic quota from this module's fold. After the streams
    drain the same corpus, this equals the batch funnel's
    qgate ∩ quota (the jobs._STAGES funnel table) exactly (pinned in
    tests/test_streaming.py — stream == batch, the windowed.py
    discipline)."""
    from spark_app_twitter_spark.functions.text import tokens
    from spark_app_twitter_spark.operators.textstats import (
        QUALITY_FLOOR_GRID,
        quality_score_expr,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.qualitymon import (
        quality_floor_from_state,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    bucket = F.floor(
        quality_score_expr(tokens("text")) * F.lit(QUALITY_FLOOR_GRID)
    ).cast("int")
    floors = quality_floor_from_state(spark, hist_path).select(
        "source", "floor_bucket"
    )
    quota = quota_sample_from_state(spark, quota_path).select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(floors), "source")
        .where(F.col("bucket") >= F.col("floor_bucket"))
        .join(quota, "doc_id", "left_semi")
        .select("doc_id")
    )
