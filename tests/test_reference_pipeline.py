"""Oracle-parity tests for the reference-surface operators
(ingest/enrich/aggregate/serving — SURVEY §2)."""

from spark_app_twitter_spark.operators import aggregates, enrich, ingest, serving

from tests.parity import assert_parity


def test_parse_events(spark, sf_dir):
    assert_parity(
        ingest.parse_events(spark, sf_dir), ingest.PARSE_EVENTS_SQL, sf_dir, "parse"
    )


def test_enrich_documents(spark, sf_dir):
    assert_parity(
        enrich.enrich_documents(spark, sf_dir),
        enrich.ENRICH_DOCUMENTS_SQL,
        sf_dir,
        "enrich",
    )


def test_positivity(spark, sf_dir):
    from spark_app_twitter_spark.sources.parquet import load_table

    enriched = enrich.enrich(load_table(spark, sf_dir, "documents"))
    assert_parity(
        aggregates.positivity_agg(enriched),
        aggregates.POSITIVITY_SQL,
        sf_dir,
        "positivity",
    )


def test_emotion_counts(spark, sf_dir):
    from spark_app_twitter_spark.sources.parquet import load_table

    enriched = enrich.enrich(load_table(spark, sf_dir, "documents"))
    assert_parity(
        aggregates.emotion_counts(enriched),
        aggregates.EMOTION_COUNTS_SQL,
        sf_dir,
        "emotion_counts",
    )


def test_emotion_pivot(spark, sf_dir):
    from spark_app_twitter_spark.sources.parquet import load_table

    enriched = enrich.enrich(load_table(spark, sf_dir, "documents"))
    assert_parity(
        aggregates.emotion_pivot(enriched),
        aggregates.EMOTION_PIVOT_SQL,
        sf_dir,
        "emotion_pivot",
    )


def test_aggregated_serving(spark, sf_dir):
    assert_parity(
        aggregates.aggregated_serving(spark, sf_dir),
        aggregates.AGGREGATED_SERVING_SQL,
        sf_dir,
        "aggregated_serving",
    )


def test_dedup_first(spark, sf_dir):
    assert_parity(
        serving.dedup_first(spark, sf_dir), serving.DEDUP_FIRST_SQL, sf_dir, "dedup"
    )


def test_unpivot(spark, sf_dir):
    assert_parity(
        serving.unpivot_emotions(spark, sf_dir),
        serving.UNPIVOT_EMOTIONS_SQL,
        sf_dir,
        "unpivot",
    )


def test_topic_share(spark, sf_dir):
    assert_parity(
        serving.topic_share(spark, sf_dir), serving.TOPIC_SHARE_SQL, sf_dir, "share"
    )


def test_grouping_sets(spark, sf_dir):
    assert_parity(
        serving.grains_grouping_sets(spark, sf_dir),
        serving.GRAINS_GROUPING_SETS_SQL,
        sf_dir,
        "grains",
    )


def test_percentiles(spark, sf_dir):
    assert_parity(
        serving.value_percentiles(spark, sf_dir),
        serving.VALUE_PERCENTILES_SQL,
        sf_dir,
        "percentiles",
    )


def test_latest_inputs(spark, sf_dir):
    assert_parity(
        serving.latest_inputs(spark, sf_dir),
        serving.LATEST_INPUTS_SQL,
        sf_dir,
        "latest",
    )


def test_hourly_window(spark, sf_dir):
    assert_parity(
        serving.hourly_window(spark, sf_dir),
        serving.HOURLY_WINDOW_SQL,
        sf_dir,
        "hourly_window",
    )


def test_pandas_udf_classifier_matches_catalyst(spark, sf_dir):
    """The pluggable Pandas-UDF classifier path must agree with the
    default Catalyst lexicon expressions."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.functions import text as X
    from spark_app_twitter_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    cmp = docs.select(
        X.sentiment("text").alias("s1"),
        X.pandas_sentiment().alias("s2"),
        X.emotion("text").alias("e1"),
        X.pandas_emotion().alias("e2"),
    )
    bad = cmp.where((F.col("s1") != F.col("s2")) | (F.col("e1") != F.col("e2")))
    assert bad.count() == 0


def test_ml_pipeline_adapter_matches_enrich(spark, sf_dir):
    """The pyspark.ml Pipeline surface (M2's shape) produces the same
    labels as the direct column enrichment."""
    from spark_app_twitter_spark.operators.enrich import build_enrichment_pipeline
    from spark_app_twitter_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    via_pipeline = build_enrichment_pipeline().fit(docs).transform(docs)
    via_columns = enrich.enrich(docs)
    diff = (
        via_pipeline.select("doc_id", "sentiment", "emotion")
        .exceptAll(via_columns.select("doc_id", "sentiment", "emotion"))
    )
    assert diff.count() == 0


def test_funnel_stage_table_matches_oracle_sql():
    """No Spark session: each version's stage list reports the same
    rows, in the same order, as its DuckDB twin selects, and gates /
    screens the same CTEs in the twin's survivor predicate (the
    ``reps_lsh`` stage is the twin's swapped ``reps`` CTE)."""
    import re

    from spark_app_twitter_spark import jobs

    for v in (3, 4, 5, 6):
        sql = getattr(jobs, f"PIPELINE_FUNNEL_V{v}_SQL")
        labels = [label for _, label in jobs._labels(f"v{v}")]
        assert re.findall(r"SELECT '([a-z_]+)'", sql) == labels + [
            "surviving_epoch_rows",
            "surviving_distinct_docs",
        ], v
        kinds = {"IN": "left_semi", "NOT IN": "left_anti"}
        joins = [
            (kinds[op], cte)
            for op, cte in re.findall(
                r"ep\.doc_id (NOT IN|IN) \(SELECT doc_id FROM (\w+)\)", sql
            )
        ]
        assert joins == [
            (jobs._STAGES[k].kind, k.removesuffix("_lsh"))
            for k in jobs._VERSIONS[f"v{v}"]
            if jobs._STAGES[k].kind
        ], v


def test_prepare_training_corpus_v2_funnel(spark, tmp_path, sf_dir):
    """The round-6 capstone: every stage filters as specified, the
    export is complete (written rows == surviving epoch rows) and
    deterministic (two runs produce identical shard contents)."""
    from spark_app_twitter_spark import jobs

    out1 = str(tmp_path / "v2a")
    r = jobs.prepare_training_corpus_v2(spark, sf_dir, out1, n_shards=4)
    assert r["after_segment_gate"] <= r["corpus"]
    assert r["cluster_representatives"] <= r["corpus"]
    assert r["written_rows"] > 0
    assert r["distinct_docs_written"] <= r["written_rows"]
    # no contaminated doc may appear in the export
    from spark_app_twitter_spark.operators.textstats import (
        decontaminate_bloom,
    )
    from pyspark.sql import functions as F

    bad = (
        spark.read.parquet(out1)
        .join(
            decontaminate_bloom(spark, sf_dir).where(
                F.col("n_hit_grams") > 0
            ),
            "doc_id",
            "left_semi",
        )
        .count()
    )
    assert bad == 0
    # the held-out benchmark split itself must NEVER train
    from spark_app_twitter_spark.operators.textstats import (
        DECON_BENCH_MOD,
        DECON_BENCH_REM,
    )

    assert (
        spark.read.parquet(out1)
        .where((F.col("doc_id") % DECON_BENCH_MOD) == DECON_BENCH_REM)
        .count()
        == 0
    )
    # determinism: a second run writes identical rows
    out2 = str(tmp_path / "v2b")
    jobs.prepare_training_corpus_v2(spark, sf_dir, out2, n_shards=4)
    a = {
        tuple(x)
        for x in spark.read.parquet(out1)
        .select("doc_id", "epoch", "shuffle_key")
        .collect()
    }
    b = {
        tuple(x)
        for x in spark.read.parquet(out2)
        .select("doc_id", "epoch", "shuffle_key")
        .collect()
    }
    assert a == b


def test_prepare_training_corpus_v3_dual_screen_funnel(
    spark, tmp_path, sf_dir
):
    """The r11 capstone: the embedding layer joins the funnel — the
    export contains no semantic near-duplicate losers and no doc
    flagged by EITHER contamination screen; stage counts reconcile;
    two runs are bit-identical."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.operators.semdedup import (
        decontaminate_semantic,
        semdedup as sem_dedup_cells,
    )
    from spark_app_twitter_spark.operators.textstats import (
        decontaminate_bloom,
    )

    out1 = str(tmp_path / "v3a")
    r = jobs.prepare_training_corpus_v3(spark, sf_dir, out1, n_shards=4)
    assert r["after_segment_gate"] <= r["corpus"]
    assert r["semantic_survivors"] <= r["corpus"]
    assert r["contaminated_both"] <= min(
        r["contaminated_ngram"], r["contaminated_semantic"]
    )
    assert r["written_rows"] > 0
    written = spark.read.parquet(out1)
    # neither screen's flags may appear in the export
    for flagged in (
        decontaminate_bloom(spark, sf_dir).where(F.col("n_hit_grams") > 0),
        decontaminate_semantic(spark, sf_dir),
    ):
        assert written.join(flagged, "doc_id", "left_semi").count() == 0
    # the held-out benchmark split itself must NEVER train
    from spark_app_twitter_spark.operators.textstats import (
        DECON_BENCH_MOD,
        DECON_BENCH_REM,
    )

    assert (
        written.where(
            (F.col("doc_id") % DECON_BENCH_MOD) == DECON_BENCH_REM
        ).count()
        == 0
    )
    # no semantic-dedup loser may appear either
    losers = (
        sem_dedup_cells(spark, sf_dir)
        .where(~F.col("keep"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    assert written.join(losers, "doc_id", "left_semi").count() == 0
    # determinism
    out2 = str(tmp_path / "v3b")
    jobs.prepare_training_corpus_v3(spark, sf_dir, out2, n_shards=4)
    a = {
        tuple(x)
        for x in written.select("doc_id", "epoch", "shuffle_key").collect()
    }
    b = {
        tuple(x)
        for x in spark.read.parquet(out2)
        .select("doc_id", "epoch", "shuffle_key")
        .collect()
    }
    assert a == b


def test_pipeline_funnel_v3_parity_and_job_agreement(
    spark, tmp_path, sf_dir
):
    """The funnel relation is oracle-exact AND equals the job's own
    report (the attested face and the exporting face cannot drift)."""
    from spark_app_twitter_spark import jobs
    from tests.parity import assert_parity

    funnel = jobs.pipeline_funnel_v3(spark, sf_dir)
    assert_parity(
        funnel,
        jobs.PIPELINE_FUNNEL_V3_SQL,
        sf_dir,
        "pipeline_funnel_v3",
    )
    # re-collecting the SAME frame reuses the stage checkpoints
    got = {r.stage: r.n_docs for r in funnel.collect()}
    rep = jobs.prepare_training_corpus_v3(
        spark, sf_dir, str(tmp_path / "v3f"), n_shards=4
    )
    assert got["corpus"] == rep["corpus"]
    assert got["after_segment_gate"] == rep["after_segment_gate"]
    assert got["lexical_representatives"] == rep["lexical_representatives"]
    assert got["semantic_survivors"] == rep["semantic_survivors"]
    assert got["contaminated_ngram"] == rep["contaminated_ngram"]
    assert got["contaminated_semantic"] == rep["contaminated_semantic"]
    assert got["contaminated_both"] == rep["contaminated_both"]
    assert got["epoch_rows"] == rep["epoch_rows"]
    assert got["surviving_epoch_rows"] == rep["written_rows"]
    assert got["surviving_distinct_docs"] == rep["distinct_docs_written"]


def test_pipeline_funnel_v5_parity_job_agreement_and_composition(
    spark, tmp_path, sf_dir
):
    """The r14 capstone extension: the v5 funnel (v4 + the repetition
    gate) is oracle-exact, equals the exporting job's report, the
    export contains only repetition-passing docs, and v5 survivors
    are a subset of v4's."""
    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.operators.textstats import (
        repetition_rules,
    )
    from tests.parity import assert_parity

    funnel = jobs.pipeline_funnel_v5(spark, sf_dir)
    assert_parity(
        funnel, jobs.PIPELINE_FUNNEL_V5_SQL, sf_dir, "pipeline_funnel_v5"
    )
    got = {r.stage: r.n_docs for r in funnel.collect()}

    out = str(tmp_path / "v5")
    rep = jobs.prepare_training_corpus_v5(spark, sf_dir, out, n_shards=4)
    for key in (
        "corpus",
        "quality_floor_survivors",
        "topic_quota_kept",
        "repetition_pass",
        "epoch_rows",
    ):
        assert got[key] == rep[key], key
    assert got["surviving_epoch_rows"] == rep["written_rows"]
    assert got["surviving_distinct_docs"] == rep["distinct_docs_written"]

    written = spark.read.parquet(out)
    rgate = repetition_rules(spark, sf_dir).where("passes").select("doc_id")
    assert written.join(rgate, "doc_id", "left_anti").count() == 0
    v4 = {r.stage: r.n_docs for r in
          jobs.pipeline_funnel_v4(spark, sf_dir).collect()}
    assert got["surviving_epoch_rows"] <= v4["surviving_epoch_rows"]
    assert got["surviving_distinct_docs"] <= v4["surviving_distinct_docs"]


def test_pipeline_funnel_v4_parity_job_agreement_and_composition(
    spark, tmp_path, sf_dir
):
    """The late-r12 capstone: the funnel relation is oracle-exact and
    equals the exporting job's report; the export contains only docs
    that clear their OWN source's quality floor AND sit inside their
    semantic cell's topic quota; v4 survivors are a subset of v3's."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from tests.parity import assert_parity

    funnel = jobs.pipeline_funnel_v4(spark, sf_dir)
    assert_parity(
        funnel, jobs.PIPELINE_FUNNEL_V4_SQL, sf_dir, "pipeline_funnel_v4"
    )
    got = {r.stage: r.n_docs for r in funnel.collect()}

    out = str(tmp_path / "v4")
    rep = jobs.prepare_training_corpus_v4(spark, sf_dir, out, n_shards=4)
    for key in (
        "corpus",
        "after_segment_gate",
        "lexical_representatives",
        "semantic_survivors",
        "quality_floor_survivors",
        "topic_quota_kept",
        "contaminated_ngram",
        "contaminated_semantic",
        "epoch_rows",
    ):
        assert got[key] == rep[key], key
    assert got["surviving_epoch_rows"] == rep["written_rows"]
    assert got["surviving_distinct_docs"] == rep["distinct_docs_written"]

    written = spark.read.parquet(out)
    # every written doc is inside its cell's quota keep set
    quota = cluster_balanced_sample(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id")
    )
    assert written.join(quota, "doc_id", "left_anti").count() == 0
    # and clears its own source's floor
    frames = jobs._stage_frames(spark, sf_dir, "v4")
    assert written.join(frames["qgate"], "doc_id", "left_anti").count() == 0
    # composing two more gates can only shrink the v3 survivor set
    v3 = {r.stage: r.n_docs for r in
          jobs.pipeline_funnel_v3(spark, sf_dir).collect()}
    assert got["surviving_epoch_rows"] <= v3["surviving_epoch_rows"]
    assert got["surviving_distinct_docs"] <= v3["surviving_distinct_docs"]


def test_pipeline_pretrain_export_parity_and_manifest_invariants(
    spark, sf_dir
):
    """The r15 capstone: the export manifest is oracle-exact (the
    oracle recomputes every audit column from the exploded segment
    stream, so the hash equality IS the closed-form proof on the
    survivor-filtered corpus), covers exactly the v5 survivor docs
    that tokenize to >= 1 piece, and holds the exact-fill accounting
    (full_bins within one of n_bins, last fill in (0, BUDGET],
    fertility never negative)."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.operators import packing
    from spark_app_twitter_spark.operators.unigram import unigram_encode
    from tests.parity import assert_parity

    manifest = jobs.pipeline_pretrain_export(spark, sf_dir)
    assert_parity(
        manifest,
        jobs._pipeline_pretrain_export_sql(sf_dir),
        sf_dir,
        "pipeline_pretrain_export",
    )
    rows = manifest.collect()
    b = packing.PACK_BUDGET
    for r in rows:
        assert 0 <= r.shard < packing.PACK_SHARDS
        assert r.n_bins - 1 <= r.full_bins <= r.n_bins
        assert 0 < r.last_fill_pieces <= b
        assert r.full_bins == r.n_bins - (
            0 if r.last_fill_pieces == b else 1
        )
        assert r.total_pieces >= r.total_words > 0
        assert r.fertility_bp >= 0
        assert 0 <= r.split_docs <= r.n_docs
    # doc accounting: manifest totals equal the survivor-filtered
    # sizing relation exactly (no doc gained or lost by packing);
    # the export composes the V6 frames (capped lexical stage)
    f = jobs._stage_frames(spark, sf_dir, "v6")
    surv = (
        jobs._survivors(
            {**f, "ep": f["ep"].select("doc_id", "epoch")}
        )
        .select("doc_id")
        .distinct()
    )
    sized = unigram_encode(spark, sf_dir).join(surv, "doc_id", "left_semi")
    exp = sized.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_pieces").alias("p"),
        F.sum("n_words").alias("w"),
    ).collect()[0]
    assert sum(r.n_docs for r in rows) == exp.n
    assert sum(r.total_pieces for r in rows) == exp.p
    assert sum(r.total_words for r in rows) == exp.w


def test_pipeline_funnel_v6_parity_and_capped_reps(spark, sf_dir):
    """The r15 scale fix: funnel v6 (capped O(n) lexical
    representative stage) is oracle-exact, its reps row equals the
    capped keep-best relation's cluster count, the election rule
    matches the exact audit chain per shared cluster (highest
    quality, tie lowest doc_id), and the two funnels agree on every
    stage that does not flow through reps."""
    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.operators import dedup
    from tests.parity import assert_parity

    funnel = jobs.pipeline_funnel_v6(spark, sf_dir)
    assert_parity(
        funnel, jobs.PIPELINE_FUNNEL_V6_SQL, sf_dir, "pipeline_funnel_v6"
    )
    got = {r.stage: r.n_docs for r in funnel.collect()}
    capped = dedup.lsh_cluster_best(spark, sf_dir).collect()
    assert got["lexical_representatives"] == len(capped)
    # election rule: the rep really is its cluster's best member
    labels = {
        r.doc_id: r.cluster_id
        for r in dedup.lsh_clusters(spark, sf_dir).collect()
    }
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.functions.text import tokens
    from spark_app_twitter_spark.operators.textstats import (
        quality_score_expr,
    )
    from spark_app_twitter_spark.sources.parquet import load_table

    q = {
        r.doc_id: r.q
        for r in load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", quality_score_expr(tokens("text")).alias("q")
        )
        .collect()
    }
    members: dict = {}
    for d, c in labels.items():
        members.setdefault(c, []).append(d)
    for r in capped:
        best = sorted(members[r.cluster_id], key=lambda d: (-q[d], d))[0]
        assert r.rep_doc_id == best
        assert r.n_members == len(members[r.cluster_id])
    # stages independent of reps agree with the v5 report
    v5 = {r.stage: r.n_docs for r in
          jobs.pipeline_funnel_v5(spark, sf_dir).collect()}
    for stage in (
        "corpus",
        "after_segment_gate",
        "semantic_survivors",
        "quality_floor_survivors",
        "topic_quota_kept",
        "repetition_pass",
        "contaminated_ngram",
        "contaminated_semantic",
        "epoch_rows",
    ):
        assert got[stage] == v5[stage], stage


def test_prepare_training_corpus_v6_job_agreement(spark, tmp_path, sf_dir):
    """The v6 exporting job and the v6 funnel report one truth, and
    the export contains exactly the capped-representative survivor
    docs (every written doc is an lsh_cluster_best rep and passes
    every other gate — spot-checked via the funnel counts)."""
    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.operators import dedup

    got = {r.stage: r.n_docs for r in
           jobs.pipeline_funnel_v6(spark, sf_dir).collect()}
    out = str(tmp_path / "v6")
    rep = jobs.prepare_training_corpus_v6(spark, sf_dir, out, n_shards=4)
    for key in (
        "corpus",
        "lexical_representatives",
        "quality_floor_survivors",
        "topic_quota_kept",
        "repetition_pass",
        "epoch_rows",
    ):
        assert got[key] == rep[key], key
    assert got["surviving_epoch_rows"] == rep["written_rows"]
    assert got["surviving_distinct_docs"] == rep["distinct_docs_written"]
    written = spark.read.parquet(out)
    reps = {
        r.rep_doc_id for r in dedup.lsh_cluster_best(spark, sf_dir).collect()
    }
    assert {r.doc_id for r in written.select("doc_id").collect()} <= reps
    # the job releases its stage checkpoints: a second call (session
    # artifacts now warm) leaves fewer new persisted RDDs than the
    # stage frames it checkpoints
    pinned = sum(jobs._STAGES[k].pin for k in jobs._VERSIONS["v6"])
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    again = jobs.prepare_training_corpus_v6(
        spark, sf_dir, str(tmp_path / "v6b"), n_shards=4
    )
    grown = len(set(jsc.getPersistentRDDs().keySet()) - before)
    assert again == rep
    assert grown < pinned, (grown, pinned)


def test_pipeline_export_append_parity_and_invariants(spark, sf_dir):
    """The r15 append job: oracle-exact (the twin rebuilds the union
    stream the expensive way — equality proves append == rebuild),
    closed-form column relations hold, admission really gates (the
    admitted batch is a strict, non-empty subset of the arriving
    batch on this fixture), and nothing previously published moves
    (prev totals equal the published block's sizing relation)."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark import jobs
    from spark_app_twitter_spark.operators.dedup import (
        INC_BATCH_MOD,
        INC_BATCH_REM,
    )
    from spark_app_twitter_spark.operators.packing import (
        PACK_BUDGET,
        PACK_SHARDS,
    )
    from spark_app_twitter_spark.operators.unigram import unigram_encode
    from tests.parity import assert_parity

    manifest = jobs.pipeline_export_append(spark, sf_dir)
    assert_parity(
        manifest,
        jobs._pipeline_export_append_sql(sf_dir),
        sf_dir,
        "pipeline_export_append",
    )
    rows = manifest.collect()
    b = PACK_BUDGET
    assert {r.shard for r in rows} == set(range(PACK_SHARDS))
    for r in rows:
        assert r.prev_total_pieces + r.admitted_pieces == r.total_pieces_after
        assert 0 <= r.split_docs_new <= r.n_new_docs
        assert r.new_bins >= 0
        if r.total_pieces_after > 0:
            assert 0 < r.last_fill_pieces_after <= b
            assert r.n_bins_after == (r.total_pieces_after - 1) // b + 1
    sized = unigram_encode(spark, sf_dir)
    is_new = (F.col("doc_id") % INC_BATCH_MOD) == INC_BATCH_REM
    batch = sized.where(is_new)
    n_batch = batch.count()
    n_admitted = sum(r.n_new_docs for r in rows)
    assert 0 < n_admitted < n_batch  # gates bite but don't empty
    pub = {
        r.shard: r.p
        for r in sized.where(~is_new)
        .groupBy((F.col("doc_id") % PACK_SHARDS).alias("shard"))
        .agg(F.sum("n_pieces").alias("p"))
        .collect()
    }
    for r in rows:
        assert r.prev_total_pieces == pub.get(r.shard, 0)
