#!/usr/bin/env python
"""Per-stage cost decomposition of the v5 funnel + export tail (r15).

pipeline_pretrain_export is the first funnel-composed entry to get a
100x stress row (25.6x at 10x data — the repo's worst ratio), so
attribute the wall to stages before optimizing. Uses the SAME
constructors as the v5 stage list of the jobs._STAGES funnel table;
each phase prints as it completes (partial runs still inform).

Usage: python tools/decomp_funnel.py [sf_dir]
(sf_dir defaults to the 10x stress fixture if built, else sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_DEFAULT = (
    "/tmp/spark_graft_stress/r10"
    if os.path.exists("/tmp/spark_graft_stress/r10/_BUILT")
    else "/root/testdata/sf0.1"
)
SF = sys.argv[1] if len(sys.argv) > 1 else _DEFAULT

T: dict[str, float] = {}
N: dict[str, int] = {}


def phase(name: str, thunk):
    t0 = time.time()
    df = thunk().localCheckpoint(eager=True)
    T[name] = round(time.time() - t0, 2)
    N[name] = df.count()
    print(
        json.dumps({"phase": name, "sec": T[name], "rows": N[name]}),
        flush=True,
    )
    return df


def main() -> None:
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from spark_app_twitter_spark.operators.dedup import (
        cluster_best_representatives,
        paragraph_dedup,
    )
    from spark_app_twitter_spark.operators.semdedup import (
        decontaminate_semantic,
        semdedup,
    )
    from spark_app_twitter_spark.operators.textstats import (
        DECON_BENCH_MOD,
        DECON_BENCH_REM,
        decontaminate_bloom,
        mixture_apply,
        quality_floor_by_source,
        repetition_rules,
    )
    from spark_app_twitter_spark.operators.unigram import unigram_encode
    from spark_app_twitter_spark.session import get_spark

    spark = get_spark("decomp_funnel")
    spark.sparkContext.setLogLevel("ERROR")

    seg = phase("seg", lambda: paragraph_dedup(spark, SF))
    gate = phase(
        "gate",
        lambda: seg.where(
            F.col("n_dropped") * 2 <= F.col("n_segments")
        ).select("doc_id"),
    )
    reps = phase(
        "reps",
        lambda: cluster_best_representatives(spark, SF).select(
            F.col("rep_doc_id").alias("doc_id")
        ),
    )
    semk = phase(
        "semk",
        lambda: semdedup(spark, SF)
        .where(F.col("keep"))
        .select(F.col("vec_id").alias("doc_id")),
    )
    qfloor = phase(
        "qgate_floor", lambda: quality_floor_by_source(spark, SF)
    )

    def _qgate():
        from spark_app_twitter_spark.functions.text import tokens
        from spark_app_twitter_spark.operators.textstats import (
            QUALITY_FLOOR_GRID,
            quality_score_expr,
        )
        from spark_app_twitter_spark.sources.parquet import load_table

        docs = load_table(spark, SF, "documents", spread=True)
        bucket = F.floor(
            quality_score_expr(tokens("text")) * F.lit(QUALITY_FLOOR_GRID)
        ).cast("int")
        return (
            docs.select("doc_id", "source", bucket.alias("bucket"))
            .join(
                F.broadcast(qfloor.select("source", "floor_bucket")),
                "source",
            )
            .where(F.col("bucket") >= F.col("floor_bucket"))
            .select("doc_id")
        )

    qgate = phase("qgate", _qgate)
    quota = phase(
        "quota",
        lambda: cluster_balanced_sample(spark, SF).select(
            F.col("vec_id").alias("doc_id")
        ),
    )
    rgate = phase(
        "rgate",
        lambda: repetition_rules(spark, SF)
        .where("passes")
        .select("doc_id"),
    )
    cn = phase(
        "cn",
        lambda: decontaminate_bloom(spark, SF)
        .where(F.col("n_hit_grams") > 0)
        .select("doc_id"),
    )
    cs = phase(
        "cs", lambda: decontaminate_semantic(spark, SF).select("doc_id")
    )
    ep = phase(
        "ep",
        lambda: mixture_apply(spark, SF)
        .where(F.col("doc_id") % DECON_BENCH_MOD != DECON_BENCH_REM)
        .select("doc_id", "epoch"),
    )
    surv = phase(
        "surv",
        lambda: ep.join(gate, "doc_id", "left_semi")
        .join(reps, "doc_id", "left_semi")
        .join(semk, "doc_id", "left_semi")
        .join(qgate, "doc_id", "left_semi")
        .join(quota, "doc_id", "left_semi")
        .join(rgate, "doc_id", "left_semi")
        .join(cn, "doc_id", "left_anti")
        .join(cs, "doc_id", "left_anti")
        .select("doc_id")
        .distinct(),
    )
    phase(
        "sized",
        lambda: unigram_encode(spark, SF).join(
            surv, "doc_id", "left_semi"
        ),
    )

    print(
        json.dumps(
            {
                "metric": "decomp_funnel",
                "sf_dir": SF,
                "phases_sec": T,
                "rows": N,
                "loadavg": list(os.getloadavg()),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
