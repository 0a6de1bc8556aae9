# -*- coding: utf-8 -*-
"""The driver-gate manifest is FROZEN (VERDICT r6 item 3).

The driver's correctness artifact keeps only the FIRST 50 entries of
``__spark_entry__.queries()`` in insertion order; r5 lost an operator
(``sparql_multi_suggestion``) to an accidental reorder. This test pins the
gate as an explicit literal: any insertion, removal, or reorder of the
first 50 slots is a loud failure here, never a silent drop from the
driver artifact. Alternate faces of already-gated operators belong AFTER
slot 50 (they still run in the local verify replay).
"""

#: the 50 driver-gated entries, in registration order. Changing this list
#: is a DELIBERATE act: add new distinct operators by replacing an
#: alternate face or (preferably) registering alternates post-cap, then
#: update this literal in the same commit.
FROZEN_50 = [
    "lint_verdicts",
    "report_per_map",
    "report_summary",
    "report_per_check",
    "merged_verdicts",
    "point_in_serbia",
    "cell_encode",
    "knn_dup_names",
    "translit_dup_names",
    "tile_assignment",
    "cell_counts_salted",
    "text_profile",
    "pii_redact",
    "corpus_split",
    "vocab_topk",
    "decontaminate",
    "training_shard",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "dedup_components",
    "dedup_components_multi",
    "simhash",
    "simhash_near_dups",
    "ngram_jaccard_pairs",
    "embedding_near_dups",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "media_features",
    "media_frames",
    "media_audio_probe",
    "events_windowed",
    "sessionize",
    "asof_join",
    "range_join",
    "wiki_guess",
    "proposed_fixes",
    "parse_sophox_rows",
    "sparql_multi_suggestion",
    "sparql_adding_name",
    "sparql_changing_namesr_to_cyrillic",
    "sparql_adding_namesr_north",
    "sparql_adding_namesr_central",
    "sparql_adding_namesr_west",
    "sparql_adding_namesr_east",
    "sparql_adding_namesr_south",
    "sparql_checking_namesr_latn_north",
    "sparql_checking_namesr_latn_south",
    "sparql_adding_int_name",
]

#: alternate faces registered BEHIND the driver cap — same semantics as a
#: gated operator, different topology/parameterization. Order here only
#: documents registration; the invariant that matters is that they sit at
#: positions 51+.
POST_CAP_FACES = [
    "knn_dup_names_capped",
    "minhash_lsh_pairs_stored",
    "simhash_near_dups_stored",
    "dedup_components_multi_stored",
    "ann_ivf_topk_stored",
    "embedding_near_dups_stored",
    "ann_pq_topk",
    "ann_pq_topk_stored",
]


def test_driver_gate_first_50_is_frozen():
    import __spark_entry__ as entry

    names = list(entry.queries())
    assert names[:50] == FROZEN_50, (
        "the first 50 queries() entries ARE the driver correctness gate; "
        "this reorder would silently drop an operator from the artifact "
        "(r5 failure mode). If the change is deliberate, update FROZEN_50 "
        "in the same commit."
    )


def test_post_cap_faces_are_registered_and_behind_the_gate():
    import __spark_entry__ as entry

    names = list(entry.queries())
    assert names[50:] == POST_CAP_FACES


def test_every_query_has_an_oracle_twin():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(o)


def test_bench_100x_selects_registry_queries():
    """The 100×-proxy harness names its queries, each name resolves, and
    importing it leaves the environment (e.g. the driver heap) alone."""
    import importlib.util
    import os

    import __spark_entry__ as entry

    path = os.path.join(os.path.dirname(entry.__file__), "scripts", "bench_100x.py")
    spec = importlib.util.spec_from_file_location("bench_100x", path)
    mod = importlib.util.module_from_spec(spec)
    env = dict(os.environ)
    spec.loader.exec_module(mod)
    assert dict(os.environ) == env
    assert mod.QUERIES and set(mod.QUERIES) <= set(entry.queries())
