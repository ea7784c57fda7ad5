"""The reference's derived-analytics job family (E3) as a DAG.

Reference: ``data_reorg_daily`` chains per-type continuous-contract rebuilds
then the factor/adjusted exports (tasks/wind/future_reorg/reorg_md_2_db.py:
405-408 drives the loop; tasks/wind/__init__.py:33-66 chains the jobs).
Celery chain → Pipeline dependency edges; the fan-out of consumers after the
stored selection → concurrent jobs that all start when the selection lands.

This is the materialized-intermediate shape end to end: the stateful
selection (the only FlatMapGroupsInPandas in the whole DAG) runs in job 1
and is published once, partitioned per instrument_type; every consumer job
reads it back as a plain parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .dag import Job, Pipeline


def continuous_reorg_pipeline(sf_dir: str, workdir: str) -> Pipeline:
    """Build the E3 DAG: materialize selection → {main/sec join, division-
    and diff-adjusted series} concurrently."""

    sel_path = os.path.join(workdir, "continuous_selection")

    def _cd(spark: SparkSession):
        from .. import catalog
        from ..operators import continuous
        return continuous.contract_daily(
            catalog.load(spark, "lineitem", sf_dir),
            catalog.load(spark, "part", sf_dir))

    def materialize(spark: SparkSession):
        from .. import pipelines
        pipelines.materialize_continuous_selection(spark, _cd(spark), sel_path)

    def _consumer(name: str):
        def run(spark: SparkSession):
            from .. import pipelines
            sel = spark.read.parquet(sel_path)
            out = pipelines.continuous_analytics_from(sel, _cd(spark))[name]
            out.write.mode("overwrite").parquet(os.path.join(workdir, name))
        return run

    return Pipeline([
        Job("materialize_selection", materialize),
        Job("main_sec", _consumer("main_sec"),
            depends_on=["materialize_selection"]),
        Job("adjusted_division", _consumer("adjusted_division"),
            depends_on=["materialize_selection"]),
        Job("adjusted_diff", _consumer("adjusted_diff"),
            depends_on=["materialize_selection"]),
    ])


def selection_scoring_pipeline(sf_dir: str, workdir: str,
                               model_table: str = "lm_ref_model",
                               buckets: int = 32) -> Pipeline:
    """The E-family data-selection DAG: train the CCNet reference bigram
    LM once, PUBLISH it as the production model layout, score every later
    corpus against the reloaded model, and cut the CCNet head/middle/tail
    split from the scores.

    Production layout = the model table bucketed by ``c1`` (the context
    gram — the key of BOTH scoring joins): ``write_bucketed`` pays the
    model-side shuffle exactly once at publish time, so each scoring job
    joins the reloaded model with NO Exchange above the model scan — only
    the (corpus-proportional) document-bigram stream shuffles, the
    (model-proportional) side never does. Pinned executable:
    tests/test_domain_pipeline.py::test_selection_scoring_pipeline
    asserts the scoring plan has exactly two fewer exchanges than the
    same join against a plain-parquet model, with broadcast disabled.

    Reference parity: this is the operational form of the persist-and-
    reload round trip (test_models_persist_roundtrip) — scores against
    the reloaded bucketed model are bit-identical to the in-memory
    composition (same smoothing, same vocab column carried in-table).
    """
    scores_path = os.path.join(workdir, "lm_scores")

    def _docs(spark: SparkSession):
        from .. import catalog
        return catalog.load(spark, "documents", sf_dir)

    def train(spark: SparkSession):
        from pyspark.sql import functions as F
        from ..operators import selection, skew
        model = selection.train_bigram_lm(
            _docs(spark).where(F.col("lang") == "en"))
        skew.write_bucketed(model, model_table, "c1", buckets=buckets)

    def score(spark: SparkSession):
        from ..operators import selection, skew
        model = skew.bucketed_table(spark, model_table)
        out = selection.lm_cross_entropy(_docs(spark), model)
        out.write.mode("overwrite").parquet(scores_path)

    def split(spark: SparkSession):
        from pyspark.sql import functions as F
        from ..operators import selection
        scored = spark.read.parquet(scores_path)
        out = selection.quantile_split(
            scored.where(F.col("n_bigrams") > 0), "cross_entropy",
            tiebreaks=["doc_id"])
        out.write.mode("overwrite").parquet(
            os.path.join(workdir, "ccnet_split"))

    return Pipeline([
        Job("train_lm_model", train),
        Job("score_corpus", score, depends_on=["train_lm_model"]),
        Job("ccnet_split", split, depends_on=["score_corpus"]),
    ])
