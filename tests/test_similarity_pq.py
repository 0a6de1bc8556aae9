# -*- coding: utf-8 -*-
"""Product-quantization ANN (similarity.py PQ section).

Oracle parity for both faces is covered by test_oracle_duckdb's
parametrization (ann_pq_topk / ann_pq_topk_stored share one SQL twin).
Here: the face-equivalence (PQ and IVF), recall, and plan-shape
properties the oracle can't see."""

import io
import contextlib

import pytest
from conftest import SF_SMALL


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("face", ["pq", "ivf"])
def test_pq_stored_equals_recompute(spark, face):
    """Storage topology is invisible: the stored-table face (PQ codes, IVF
    cells) returns the exact frame of its inline-recompute face — also
    off the oracle gate's defaults (k=5, n_queries=20)."""
    from serbian_osm_lint_spark.operators import similarity

    def rows(fn):
        return sorted(map(tuple, fn(spark, SF_SMALL, k=7, n_queries=30).collect()))

    a = rows(getattr(similarity, f"ann_{face}_topk_df"))
    b = rows(getattr(similarity, f"ann_{face}_topk_stored_df"))
    assert a == b and len(a) == 30 * 7


def test_pq_recall_floor_vs_brute_force(spark):
    """PQ is approximate by construction; guard it stays a *useful*
    approximation: top-5 overlap with exact brute force must clear a
    floor. Measured 0.67 at sf0.01 and sf0.001-scale corpora with the
    v1 spec (16 sub-codes × 8 subspaces, 50-candidate re-rank); the
    floor is set WELL below the measurement so it only trips on a spec
    regression (e.g. a broken code assignment), not on corpus noise."""
    from serbian_osm_lint_spark.operators import similarity

    bf = similarity.ann_cosine_topk_df(spark, SF_SMALL).collect()
    pq = similarity.ann_pq_topk_df(spark, SF_SMALL).collect()
    bs = {(r.query_id, r.neighbor_id) for r in bf}
    ps = {(r.query_id, r.neighbor_id) for r in pq}
    assert len(bs) > 0
    recall = len(bs & ps) / len(bs)
    assert recall >= 0.4, f"PQ recall@5 collapsed: {recall}"


def test_pq_stored_adc_scan_is_skinny(spark):
    """The 100 TB property: the stored face's ADC pass scans the code
    table WITHOUT the vector column — (vec_id, codes, vnorm) only — and
    full vectors appear solely in the by-id re-rank fetch and the tiny
    pushed-down query-side scan (vec_id < N_QUERIES)."""
    from serbian_osm_lint_spark.operators import similarity

    plan = _plan(similarity.ann_pq_topk_stored_df(spark, SF_SMALL))
    assert "pq_codes_" in plan  # the cached code table is what's scanned
    # the code-table scan projects no embedding/vector column
    for line in plan.splitlines():
        if "pq_codes_" in line and "ReadSchema" in line:
            assert "v:array" not in line and "embedding" not in line
    # query-side scans of the source table are min/max-pruned to the
    # 20-query prefix
    assert "LessThan(vec_id,20)" in plan
    # ADC candidate generation broadcasts the 20-row LUT side
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pq_codes_shape(spark):
    """Every corpus vector encodes to PQ_M in-range sub-codes, and the
    stored table carries the true norm (needed for ADC-cosine)."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import similarity

    tbl = similarity.pq_code_table(spark, SF_SMALL)
    n = tbl.count()
    assert n == spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    bad = tbl.filter(
        (F.size("codes") != similarity.PQ_M)
        | F.exists("codes", lambda c: (c < 1) | (c > similarity.PQ_K))
        | F.col("vnorm").isNull()
        | (F.col("vnorm") <= 0)
    ).count()
    assert bad == 0


def test_two_phase_topk_equals_single_window(spark):
    """_topk_per_query's two-phase split must be output-identical to the
    single global window for ANY physical partitioning — exercised on a
    skewed synthetic frame (one hot query holding most rows, ties on the
    order column) across three different partition layouts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators.similarity import _topk_per_query

    rows = []
    for q in range(4):
        n = 400 if q == 0 else 25  # skew: query 0 dominates
        for i in range(n):
            rows.append((q, i, float((i * 7) % 13)))  # heavy score ties
    base = spark.createDataFrame(rows, "query_id int, neighbor_id int, score double")

    order = [F.desc("score"), F.col("neighbor_id")]
    w = Window.partitionBy("query_id").orderBy(*order)
    expected = sorted(
        map(
            tuple,
            base.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id", "score", F.col("rank").cast("int").alias("rank"))
            .collect(),
        )
    )
    for parts in (1, 3, 17):
        got = sorted(
            map(
                tuple,
                _topk_per_query(base.repartition(parts), order, 10, "rank")
                .select("query_id", "neighbor_id", "score", "rank")
                .collect(),
            )
        )
        assert got == expected, f"two-phase != single window at {parts} partitions"
