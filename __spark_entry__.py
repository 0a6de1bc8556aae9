"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship lint-verdict pipeline at sf0.001;
``queries()``/``oracle_sql()`` expose each implemented operator from
SURVEY.md §2 with a DuckDB oracle twin.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from serbian_osm_lint_spark import synth  # noqa: E402
from serbian_osm_lint_spark.functions import osm_parsers  # noqa: E402
from serbian_osm_lint_spark.functions import text as ftext  # noqa: E402
from serbian_osm_lint_spark.plans import lint_pipeline  # noqa: E402
from serbian_osm_lint_spark.operators import queries as q29  # noqa: E402
from serbian_osm_lint_spark.operators import (  # noqa: E402
    corpus,
    dedup,
    events,
    fixes,
    media,
    report,
    similarity,
    spatial,
    wikiwalk,
)


# Planted vertical-tab doc (ADVICE r4): Java \s includes \x0B, RE2's does
# not, so this row only hash-matches because every text split now uses the
# explicit WS_SPLIT_RE class — the oracle actively exercises the contract.
_VT_DOC_TEXT = "the quick\x0bbrown fox the quick fox. the of to"
_SQL_VT_DOC = (
    "SELECT CAST(-1 AS BIGINT) AS doc_id, "
    "'the quick' || chr(11) || 'brown fox the quick fox. the of to' AS text"
)


def _q_text_profile(spark, sf_dir):
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators.corpus import _docs_spread

    # single-row-group driver table: spread the scan so the per-row text
    # expressions parallelize (see corpus._docs_spread)
    docs = _docs_spread(spark, sf_dir)
    vt = spark.range(1).select(
        F.lit(-1).cast("long").alias("doc_id"), F.lit(_VT_DOC_TEXT).alias("text")
    )
    docs = docs.unionByName(vt)
    ws, bpe = ftext.token_count_cols(F.col("text"))
    return docs.select(
        "doc_id",
        ws,
        bpe,
        *ftext.quality_score_cols(F.col("text")),
        ftext.lang_id_col(F.col("text")).alias("lang_guess"),
        ftext.repetition_cols(F.col("text")),
        ftext.fingerprint_col(F.col("text")).alias("fingerprint"),
    )


def _sql_text_profile():
    ws, bpe = ftext.sql_token_counts("text")
    quality = ftext.sql_quality_cols("text")
    qcols = ", ".join(f"{expr} AS {name}" for name, expr in quality.items())
    return (
        f"SELECT doc_id, {ws} AS n_tokens_ws, {bpe} AS n_tokens_bpe, {qcols}, "
        f"{ftext.sql_lang_id('text')} AS lang_guess, "
        f"{ftext.sql_repetition('text')} AS rep_3gram_ratio, "
        f"{ftext.sql_fingerprint('text')} AS fingerprint FROM "
        f"(SELECT doc_id, text FROM documents UNION ALL {_SQL_VT_DOC})"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full lint verdict table at sf0.001."""
    return lint_pipeline.build_verdicts(spark, "/root/testdata/sf0.001")


def _q_lint_verdicts(spark, sf_dir):
    return lint_pipeline.build_verdicts(spark, sf_dir)


def _q_report_per_map(spark, sf_dir):
    return report.per_map_report_df(lint_pipeline.build_verdicts(spark, sf_dir))


def _q_report_summary(spark, sf_dir):
    return report.summary_report_df(lint_pipeline.build_verdicts(spark, sf_dir))


def _q_report_per_check(spark, sf_dir):
    return report.per_check_report_df(spark, lint_pipeline.build_verdicts(spark, sf_dir))


def _q_merged_verdicts(spark, sf_dir):
    return report.merge_first_wins_df(lint_pipeline.build_verdicts(spark, sf_dir))


def _docs(spark, sf_dir):
    """The stored doc table (materialized once; queries are plain scans —
    the production shape, and it keeps Catalyst planning time flat)."""
    from serbian_osm_lint_spark.sources import catalog

    return catalog.docs_table(spark, sf_dir)


def _dims(spark, sf_dir):
    from serbian_osm_lint_spark.sources import catalog

    return catalog.dims_tables(spark, sf_dir)


def _mk_pipeline(name):
    return lambda spark, sf_dir: q29.ALL_PIPELINES[name](spark, _docs(spark, sf_dir))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    ORDERING CONTRACT (VERDICT r5 item 1): the driver's correctness
    artifact keeps only the FIRST 50 entries in insertion order, so every
    *distinct* operator must be registered in the first 50 slots.
    Alternate faces of already-gated operators (same semantics, different
    topology or parameterization) go AFTER the sparql loop:
    ``knn_dup_names_capped`` (skew-capped variant of ``knn_dup_names``)
    and the stored-table faces. They still run in the local verify replay.

    The gate is FROZEN as an explicit literal in
    ``tests/test_entry_registry.py::FROZEN_50`` (VERDICT r6 item 3): any
    accidental insertion/reorder of the first 50 slots fails that test
    loudly instead of silently dropping an operator from the artifact.
    """
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "lint_verdicts": _q_lint_verdicts,
        "report_per_map": _q_report_per_map,
        "report_summary": _q_report_summary,
        "report_per_check": _q_report_per_check,
        "merged_verdicts": _q_merged_verdicts,
        # spatial core (J2/J8/J9/A4, cell encoding)
        "point_in_serbia": lambda s, d: spatial.point_in_serbia_df(s, _docs(s, d)),
        "cell_encode": lambda s, d: spatial.cell_encode_df(s, _docs(s, d)),
        "knn_dup_names": lambda s, d: spatial.knn_dup_names_df(s, _docs(s, d)),
        "translit_dup_names": lambda s, d: spatial.translit_dup_names_df(s, _docs(s, d)),
        "tile_assignment": lambda s, d: spatial.tile_assignment_df(s, _docs(s, d)),
        "cell_counts_salted": lambda s, d: spatial.cell_counts_salted_df(s, _docs(s, d)),
        # training-data pipeline: text analysis / dedup / similarity / media
        "text_profile": _q_text_profile,
        "pii_redact": lambda s, d: corpus.pii_redact_df(s, d),
        "corpus_split": lambda s, d: corpus.corpus_split_df(s, d),
        "vocab_topk": lambda s, d: corpus.vocab_topk_df(s, d),
        "decontaminate": lambda s, d: corpus.decontaminate_df(s, d),
        "training_shard": lambda s, d: corpus.training_shard_df(s, d),
        "dedup_exact": lambda s, d: dedup.dedup_exact_df(s, d),
        "minhash_signatures": lambda s, d: dedup.minhash_signatures_df(s, d),
        "minhash_lsh_pairs": lambda s, d: dedup.minhash_lsh_pairs_df(s, d),
        "dedup_components": lambda s, d: dedup.dedup_components_df(s, d),
        "dedup_components_multi": lambda s, d: dedup.dedup_components_multi_df(s, d),
        "simhash": lambda s, d: dedup.simhash_df(s, d),
        "simhash_near_dups": lambda s, d: dedup.simhash_near_dups_df(s, d),
        "ngram_jaccard_pairs": lambda s, d: dedup.ngram_jaccard_pairs_df(s, d),
        "embedding_near_dups": lambda s, d: dedup.embedding_near_dups_df(s, d),
        "ann_cosine_topk": lambda s, d: similarity.ann_cosine_topk_df(s, d),
        "ann_lsh_topk": lambda s, d: similarity.ann_lsh_topk_df(s, d),
        "ann_ivf_topk": lambda s, d: similarity.ann_ivf_topk_df(s, d),
        "media_features": lambda s, d: media.extract_media_features_df(s, _docs(s, d)),
        "media_frames": lambda s, d: media.sample_media_frames_df(s, _docs(s, d)),
        "media_audio_probe": lambda s, d: media.probe_media_audio_df(s, _docs(s, d)),
        # event-stream operators (batch faces; streaming twins in tests)
        "events_windowed": lambda s, d: events.events_windowed_df(s, d),
        "sessionize": lambda s, d: events.sessionize_df(s, d),
        "asof_join": lambda s, d: events.asof_join_df(s, d),
        "range_join": lambda s, d: events.range_join_df(s, d),
        # J3 disambiguation walk + S8 proposed fixes
        "wiki_guess": lambda s, d: wikiwalk.wiki_guess_df(s, _docs(s, d)),
        "proposed_fixes": lambda s, d: fixes.proposed_fixes_df(
            s, _docs(s, d), _dims(s, d)[0]
        ),
        # F8/P10: Sophox binding parsers with malformed-row skip
        "parse_sophox_rows": lambda s, d: osm_parsers.parse_sophox_rows_df(s, d),
    }
    # C13 full suggestion/metadata model (flattened for the oracle; the
    # struct-typed face is q29.multi_suggestion_df, covered in pytest).
    # Registered BEFORE the sparql loop so it stays inside the driver's
    # 50-entry cap (it fell off the r5 artifact at position 51).
    q["sparql_multi_suggestion"] = lambda s, d: q29.multi_suggestion_flat_df(
        s, _docs(s, d)
    )
    for name in q29.ALL_PIPELINES:
        q[f"sparql_{name}"] = _mk_pipeline(name)
    # ---- alternate faces of already-gated operators (positions 51+) ----
    q["knn_dup_names_capped"] = lambda s, d: spatial.knn_dup_names_capped_df(
        s, _docs(s, d)
    )
    q["minhash_lsh_pairs_stored"] = lambda s, d: dedup.minhash_lsh_pairs_stored_df(s, d)
    q["simhash_near_dups_stored"] = lambda s, d: dedup.simhash_near_dups_stored_df(s, d)
    q["dedup_components_multi_stored"] = lambda s, d: dedup.dedup_components_multi_stored_df(s, d)
    q["ann_ivf_topk_stored"] = lambda s, d: similarity.ann_ivf_topk_stored_df(s, d)
    q["embedding_near_dups_stored"] = lambda s, d: dedup.embedding_near_dups_stored_df(s, d)
    # PQ/ADC ANN (alternate scale path of the gated ann_* family): both
    # faces share one oracle — storage topology is invisible to semantics.
    q["ann_pq_topk"] = lambda s, d: similarity.ann_pq_topk_df(s, d)
    q["ann_pq_topk_stored"] = lambda s, d: similarity.ann_pq_topk_stored_df(s, d)
    return q


def oracle_sql() -> dict[str, str]:
    v = lint_pipeline.sql_verdicts()
    d = synth.sql_scalar_tags()
    o = {
        "lint_verdicts": v,
        "report_per_map": report.sql_per_map_report(v),
        "report_summary": report.sql_summary_report(v),
        "report_per_check": report.sql_per_check_report(v),
        "merged_verdicts": report.sql_merge_first_wins(v),
        "point_in_serbia": spatial.sql_point_in_serbia(d),
        "cell_encode": spatial.sql_cell_encode(d),
        "knn_dup_names": spatial.sql_knn_dup_names(d),
        "translit_dup_names": spatial.sql_translit_dup_names(d),
        "tile_assignment": spatial.sql_tile_assignment(d),
        "cell_counts_salted": spatial.sql_cell_counts(d),
        "text_profile": _sql_text_profile(),
        "pii_redact": corpus.sql_pii_redact(),
        "corpus_split": corpus.sql_corpus_split(),
        "vocab_topk": corpus.sql_vocab_topk(),
        "decontaminate": corpus.sql_decontaminate(),
        "training_shard": corpus.sql_training_shard(),
        "dedup_exact": dedup.sql_dedup_exact(),
        "minhash_signatures": dedup.sql_minhash_signatures(),
        "minhash_lsh_pairs": dedup.sql_minhash_lsh_pairs(),
        "dedup_components": dedup.sql_dedup_components(),
        "dedup_components_multi": dedup.sql_dedup_components_multi(),
        "simhash": dedup.sql_simhash(),
        "simhash_near_dups": dedup.sql_simhash_near_dups(),
        "ngram_jaccard_pairs": dedup.sql_ngram_jaccard_pairs(),
        "embedding_near_dups": dedup.sql_embedding_near_dups(),
        "ann_cosine_topk": similarity.sql_ann_cosine_topk(),
        "ann_lsh_topk": similarity.sql_ann_lsh_topk(),
        "ann_ivf_topk": similarity.sql_ann_ivf_topk(),
        "media_features": media.sql_media_features(d),
        "media_frames": media.sql_media_frames(d),
        "media_audio_probe": media.sql_audio_probe(d),
        "events_windowed": events.sql_events_windowed(),
        "sessionize": events.sql_sessionize(),
        "asof_join": events.sql_asof_join(),
        "range_join": events.sql_range_join(),
        "wiki_guess": wikiwalk.sql_wiki_guess(d),
        "proposed_fixes": fixes.sql_proposed_fixes(d, synth.sql_wiki_pages()),
        "parse_sophox_rows": osm_parsers.sql_parse_sophox_rows(),
    }
    o["sparql_multi_suggestion"] = q29.sql_multi_suggestion(d)
    for name in q29.ALL_PIPELINES:
        o[f"sparql_{name}"] = q29.sql_pipeline(d, name)
    o["knn_dup_names_capped"] = spatial.sql_knn_dup_names_capped(d)
    # storage topology is invisible to semantics: each stored face shares
    # its recompute face's twin, so the gate proves the stored table
    # reproduces the recompute face
    o["minhash_lsh_pairs_stored"] = dedup.sql_minhash_lsh_pairs()
    o["simhash_near_dups_stored"] = dedup.sql_simhash_near_dups()
    o["dedup_components_multi_stored"] = dedup.sql_dedup_components_multi()
    o["ann_ivf_topk_stored"] = similarity.sql_ann_ivf_topk()
    o["embedding_near_dups_stored"] = dedup.sql_embedding_near_dups()
    o["ann_pq_topk"] = similarity.sql_ann_pq_topk()
    o["ann_pq_topk_stored"] = similarity.sql_ann_pq_topk()
    return o
