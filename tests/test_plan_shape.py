# -*- coding: utf-8 -*-
"""Physical-plan shape guarantees the scale story depends on:
pushdown reaches the scan, dims broadcast, the salted path actually
splits the hot cell, the kNN join stays an equi-join."""

import io
import contextlib

import pytest

from conftest import SF_SMALL


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL).filter(F.col("doc_id") == "n42")
    plan = _plan(docs)
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,n42)]" in plan


def test_dims_are_broadcast_and_no_early_shuffle(spark):
    from serbian_osm_lint_spark.plans import lint_pipeline

    plan = _plan(lint_pipeline.build_verdicts(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin LeftOuter") == 2  # wiki + wikidata dims
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # maps via explode, not BNLJ
    assert "Exchange hashpartitioning" not in plan  # no shuffle before agg


def test_knn_is_equi_join(spark):
    from serbian_osm_lint_spark.operators import spatial
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    plan = _plan(spatial.knn_dup_names_df(spark, docs))
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_knn_capped_is_equi_join(spark):
    from serbian_osm_lint_spark.operators import spatial
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    plan = _plan(spatial.knn_dup_names_capped_df(spark, docs))
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_bucket_filter_is_partition_pruning(spark):
    """VERDICT r1: the stored doc table is partitioned by the doc_id hash
    bucket; a per-bucket filter (the resume unit of work) must prune to
    that bucket's files, not re-scan the table."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    sub = docs.filter(F.col("bucket_id") == 3)
    plan = _plan(sub)
    assert "PartitionFilters" in plan and "bucket_id" in plan.split("PartitionFilters")[1][:120]
    # runtime proof: the filter selects exactly the one partition directory
    import glob
    import os

    location = plan.split("InMemoryFileIndex [file:")[1].split("]")[0].split(",")[0]
    part_dirs = glob.glob(os.path.join(location, "bucket_id=*"))
    assert len(part_dirs) == catalog.N_DOC_BUCKETS
    one_bucket = spark.read.parquet(os.path.join(location, "bucket_id=3")).count()
    assert 0 < one_bucket == sub.count() < docs.count()


def test_ngram_jaccard_joins_on_band_bucket(spark):
    """VERDICT r1: n-gram Jaccard must candidate-generate via the LSH band
    bucket (equi-join), never an all-pairs/length-bucket block."""
    from serbian_osm_lint_spark.operators import dedup

    plan = _plan(dedup.ngram_jaccard_pairs_df(spark, SF_SMALL))
    assert "NestedLoop" not in plan
    assert "band_key" in plan  # the equi-join key is the LSH band bucket
    assert "bucket" not in plan.lower().replace("band_key", "")  # no length bucket


def test_embedding_near_dups_joins_on_sign_bucket(spark):
    """VERDICT r1: embedding near-dup blocking must be the hyperplane sign
    bucket, not the (skewable) label column."""
    from serbian_osm_lint_spark.operators import dedup

    plan = _plan(dedup.embedding_near_dups_df(spark, SF_SMALL))
    assert "NestedLoop" not in plan
    assert "bucket" in plan
    assert "label" not in plan


def test_media_pipeline_has_no_shuffle(spark):
    """Multimodal mapInPandas stages must stay partition-local: narrow
    projection -> Arrow batches, zero Exchange in the plan."""
    from serbian_osm_lint_spark.operators import media
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    for df in (
        media.extract_media_features_df(spark, docs),
        media.sample_media_frames_df(spark, docs),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "MapInPandas" in plan


def test_decontaminate_is_gram_equi_join(spark):
    """r5: decontamination must candidate-generate via the 8-byte gram
    hash equi-join — never an all-pairs/theta join — and the grams must
    flow from a materialized words projection (the interpreted-lambda
    CSE fix), visible as a split-bearing Project below the Generate."""
    from serbian_osm_lint_spark.operators import corpus

    plan = _plan(corpus.decontaminate_df(spark, SF_SMALL))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "gh" in plan
    # the gram lambda consumes a bound words attribute (`element_at(w#n`),
    # never an inline split child (`element_at(split(`): interpreted
    # lambdas would re-run the split per element_at
    assert "element_at(w#" in plan
    assert "element_at(split(" not in plan


def test_vocab_topk_predistincts_without_expand(spark):
    """r6 (VERDICT r5 "What's wrong" #3): the df count must be the
    two-phase (token, doc_id) pre-distinct, not a countDistinct whose
    Expand doubles the zipfian head's shuffled rows — the plan shows a
    partial aggregate keyed on (token, doc_id) and NO Expand node."""
    from serbian_osm_lint_spark.operators import corpus

    plan = _plan(corpus.vocab_topk_df(spark, SF_SMALL))
    assert "Expand" not in plan
    assert "Keys [2]: [token" in plan  # the (token, doc_id) partial stage
    assert "TakeOrderedAndProject" in plan  # top-k, not a full sort


def test_ivf_probes_are_broadcast(spark):
    """IVF: the small probe side broadcasts; candidate generation is an
    equi-join on the centroid cell, never a NestedLoop scan."""
    from serbian_osm_lint_spark.operators import similarity

    plan = _plan(similarity.ann_ivf_topk_df(spark, SF_SMALL))
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_stored_scan_is_dynamically_pruned(spark):
    """VERDICT r6 item 4: the stored IVF assignment table is partitioned
    by cell, and the probe join triggers DYNAMIC partition pruning — the
    executed scan reads only the probed cells' partition directories, not
    the whole corpus (the inverted-list property that makes IVF an index
    at 10^10 vectors). Output equality with the recompute face is under
    the oracle gate (ann_ivf_topk_stored, same SQL twin)."""
    from serbian_osm_lint_spark.operators import similarity

    df = similarity.ann_ivf_topk_stored_df(spark, SF_SMALL)
    plan = _plan(df)
    assert "NestedLoop" not in plan
    assert "dynamicpruning" in plan.lower(), "probe join must prune cell partitions"
    # and no corpus-wide centroid scoring: the 16-dot-product projection
    # appears only on the tiny query side (vec_id < N_QUERIES pushdown),
    # never over the full stored scan
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]" in plan


def test_salted_agg_splits_hot_cell(spark):
    """SURVEY §7.3: the hot cells must actually trigger the salted path —
    the partial (cell, salt) aggregation must hold the hot cell in many
    groups, not one."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.functions.geo import CELL_ZOOM, cell_id_col
    from serbian_osm_lint_spark.operators.spans import with_entity_projection
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    ent = with_entity_projection(docs)
    cells = ent.select(
        cell_id_col(F.col("lat"), F.col("lon"), CELL_ZOOM).alias("cell_id"),
        F.pmod(F.xxhash64("doc_id"), F.lit(16)).alias("salt"),
    )
    partial = cells.groupBy("cell_id", "salt").count()
    hot_cell = (
        cells.groupBy("cell_id").count().orderBy(F.desc("count")).first().cell_id
    )
    n_salt_groups = partial.filter(F.col("cell_id") == hot_cell).count()
    assert n_salt_groups >= 8  # the hot cell splits across most salt buckets


def test_simhash_near_dups_single_banded_equijoin(spark):
    """VERDICT r2 item 1: the 4-band probe is ONE (band, bucket) equi-join
    fed by the band explode — never all-pairs."""
    from serbian_osm_lint_spark.operators import dedup

    plan = _plan(dedup.simhash_near_dups_df(spark, SF_SMALL))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "posexplode" in plan  # the band explode feeds the join
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    # the join is keyed on BOTH band and bucket (a two-key equi-join)
    assert "Left keys [2]: [band" in plan


def test_asof_join_is_single_window_pass(spark):
    """The as-of join must plan as union + ONE window over user_id —
    no join operator at all, no cartesian fallback."""
    from serbian_osm_lint_spark.operators import events

    plan = _plan(events.asof_join_df(spark, SF_SMALL))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" not in plan  # union+window, not a join dataflow
    assert plan.count("Window") >= 1 and "Union" in plan


def test_range_join_is_binned_equi_join(spark):
    """The time-range join must plan as a hash-key equi-join on
    (user_id, bin) — never the per-user cross product Catalyst produces
    for a raw |dt| <= delta theta join."""
    from serbian_osm_lint_spark.operators import events

    plan = _plan(events.range_join_df(spark, SF_SMALL))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_translit_dup_is_equi_join(spark):
    from serbian_osm_lint_spark.operators import spatial
    from serbian_osm_lint_spark.sources import catalog

    docs = catalog.docs_table(spark, SF_SMALL)
    plan = _plan(spatial.translit_dup_names_df(spark, docs))
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_aqe_splits_hot_lsh_band_partition(spark):
    """Runtime AQE skew evidence for the LSH self-join (VERDICT r5 item
    5): a planted hot band — 1,500 identical short docs, which collide in
    every band via the whole-text fallback shingle — is the realistic
    skew mode of ``verified_pairs_from_banded``. With broadcast disabled
    (the shuffle join a 100 TB run would take) and test-scale skew
    thresholds, AQE's OptimizeSkewedJoin SPLITS the hot band's partition:
    the executed plan carries ``skew=true`` and the verified pair count
    is exactly the hot clique plus nothing spurious."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import dedup

    n_hot, n_cold = 600, 200
    texts = spark.range(n_hot + n_cold).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_hot, F.lit("kratak tekst"))
        .otherwise(
            F.concat_ws(
                " ",
                F.lit("unique cold doc number"),
                F.col("id").cast("string"),
                (F.col("id") * 7919).cast("string"),
                (F.col("id") * 104729).cast("string"),
            )
        )
        .alias("text"),
    ).repartition(8)

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        df = dedup.lsh_verified_pairs_from(texts)
        # collect() executes df's OWN plan (count() builds a derived one
        # whose AdaptiveSparkPlan never finalizes on the original)
        n_pairs = len(df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the hot band:\n{plan[:2000]}"
        assert n_pairs == n_hot * (n_hot - 1) // 2
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_multi_signal_edge_union_is_two_bucketed_equijoins(spark):
    """The multi-signal component edge set must plan as a UNION of the
    two bucketed pair generators (band-key / (band, bucket) equi-joins)
    — adding a second signal must not introduce a cartesian or a shuffle
    of the union itself."""
    from serbian_osm_lint_spark.operators import dedup

    mh = dedup.minhash_lsh_pairs_df(spark, SF_SMALL).select("doc_id_a", "doc_id_b")
    sh = dedup.simhash_near_dup_pairs_from(dedup.simhash_df(spark, SF_SMALL)).select(
        "doc_id_a", "doc_id_b"
    )
    plan = _plan(mh.unionByName(sh))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Union" in plan
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert joins >= 2  # one bucketed equi-join per signal


def _lint_map_ops():
    """The read ops of the ``lint_map`` workload, by name: each a
    ``spark -> DataFrame`` over the stored sf0.001 tables."""
    from serbian_osm_lint_spark.operators import report, spatial
    from serbian_osm_lint_spark.plans import lint_pipeline
    from serbian_osm_lint_spark.sources import catalog

    def verdicts(spark):
        return lint_pipeline.build_verdicts(spark, SF_SMALL)

    def on_docs(fn):
        return lambda spark: fn(spark, catalog.docs_table(spark, SF_SMALL))

    return {
        "lint_pipeline.build_verdicts": verdicts,
        "report.per_map_report": lambda s: report.per_map_report_df(verdicts(s)),
        "report.summary_report": lambda s: report.summary_report_df(verdicts(s)),
        "report.per_check_report": lambda s: report.per_check_report_df(s, verdicts(s)),
        "spatial.point_in_serbia": on_docs(spatial.point_in_serbia_df),
        "spatial.knn_dup_names": on_docs(spatial.knn_dup_names_df),
        "spatial.tile_assignment": on_docs(spatial.tile_assignment_df),
        "spatial.cell_counts_salted": on_docs(spatial.cell_counts_salted_df),
    }


@pytest.mark.parametrize("op", sorted(_lint_map_ops()))
def test_lint_map_read_path_runs_no_python(spark, op):
    """No Python worker on the lint_map read path: neither a Python UDF
    node nor a scan of a Python-built RDD (which workers unpickle on
    every execution) in the optimized or the executed plan."""
    df = _lint_map_ops()[op](spark)
    df.collect()  # the executed plan is AQE's final plan
    qe = df._jdf.queryExecution()
    for phase, plan in (("optimized", qe.optimizedPlan()), ("executed", qe.executedPlan())):
        text = plan.toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "LogicalRDD", "ExistingRDD"):
            assert node not in text, (op, phase, node)
