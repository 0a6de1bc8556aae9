# -*- coding: utf-8 -*-
"""cached_table atomicity (VERDICT r6 item 5): concurrent builders of the
same key must elect ONE builder (O_EXCL lockfile); the other reads a
COMPLETE table (atomic temp-dir rename — a reader can never scan a
half-written table); crashed-builder debris is cleaned up, not served."""

import os
import threading
import time

import pytest


@pytest.fixture()
def cache_root(tmp_path, monkeypatch):
    root = str(tmp_path / "cache")
    monkeypatch.setenv("SPARK_GRAFT_CACHE", root)
    return root


def test_concurrent_builders_build_once_read_complete(spark, cache_root):
    from serbian_osm_lint_spark.sources import catalog

    builds = []
    build_lock = threading.Lock()

    def build_df():
        with build_lock:
            builds.append(threading.get_ident())
        # a non-trivial build: slow enough that the loser's wait path runs
        return spark.range(1000).selectExpr("id", "id * 2 AS v")

    counts = []
    errors = []

    def worker():
        try:
            df = catalog.cached_table(spark, "race_key", build_df)
            counts.append(df.count())
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert errors == []
    assert len(builds) == 1, f"expected exactly one build, got {len(builds)}"
    assert counts == [1000] * 4
    # no leftover lock or temp dirs
    assert not os.path.exists(os.path.join(cache_root, "race_key.lock"))
    assert [d for d in os.listdir(cache_root) if ".tmp." in d] == []


def test_stale_partial_table_is_rebuilt_not_served(spark, cache_root):
    """A directory left by a crashed pre-atomic writer (data files, no
    _SUCCESS) is debris: the next call rebuilds and atomically replaces
    it instead of reading half a table."""
    from serbian_osm_lint_spark.sources import catalog

    path = os.path.join(cache_root, "stale_key")
    # fake a partial write: parquet bytes from a different, smaller table
    spark.range(3).write.parquet(path)
    os.remove(os.path.join(path, "_SUCCESS"))  # crashed before commit

    df = catalog.cached_table(
        spark, "stale_key", lambda: spark.range(50).selectExpr("id")
    )
    assert df.count() == 50
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_waiter_times_out_on_orphaned_lock(spark, cache_root):
    from serbian_osm_lint_spark.sources import catalog

    os.makedirs(cache_root, exist_ok=True)
    with open(os.path.join(cache_root, "orphan_key.lock"), "w") as fh:
        fh.write("99999999")  # no such builder alive
    with pytest.raises(TimeoutError, match="stale"):
        catalog.cached_table(
            spark,
            "orphan_key",
            lambda: spark.range(1),
            wait_timeout_s=0.3,
        )


def test_waiter_reelects_itself_and_raises_its_own_build_error(spark, cache_root):
    """Two builders that fail in a row: the lock holder fails while a
    waiter polls; the waiter re-elects itself, its own build fails too,
    and it raises that error (not a timeout, not a hang) and releases the
    lock, so a third call builds and serves the table."""
    from serbian_osm_lint_spark.sources import catalog

    holding = threading.Event()
    first_errors = []

    def failing_first():
        holding.set()
        time.sleep(0.5)  # the waiter is polling by now
        raise RuntimeError("first build failed")

    def first():
        try:
            catalog.cached_table(spark, "reelect_key", failing_first)
        except RuntimeError as e:
            first_errors.append(str(e))

    def failing_second():
        raise RuntimeError("second build failed")

    t = threading.Thread(target=first)
    t.start()
    assert holding.wait(30)
    with pytest.raises(RuntimeError, match="second build failed"):
        catalog.cached_table(spark, "reelect_key", failing_second, wait_timeout_s=60)
    t.join()
    assert first_errors == ["first build failed"]
    assert not os.path.exists(os.path.join(cache_root, "reelect_key.lock"))

    df = catalog.cached_table(spark, "reelect_key", lambda: spark.range(7).selectExpr("id"))
    assert df.count() == 7


def test_same_named_data_dirs_get_their_own_stored_tables(spark, cache_root, tmp_path):
    """Stored-table keys carry the content fingerprint of the table's input
    file, not only the data directory's basename: a second ``sf0.001``
    holding half the customers and documents must get its own doc, dims
    and signature tables instead of the first directory's."""
    import shutil

    import pyarrow.parquet as pq
    from conftest import SF_SMALL

    from serbian_osm_lint_spark import synth
    from serbian_osm_lint_spark.operators import dedup
    from serbian_osm_lint_spark.sources import catalog

    full, half = (str(tmp_path / side / os.path.basename(SF_SMALL)) for side in "ab")
    os.makedirs(full)
    os.makedirs(half)
    for name in ("customer", "documents"):
        src = f"{SF_SMALL}/{name}.parquet"
        shutil.copy(src, full)
        tab = pq.read_table(src)
        pq.write_table(tab.slice(0, tab.num_rows // 2), f"{half}/{name}.parquet")

    n_full = catalog.docs_table(spark, full).count()
    n_half = catalog.docs_table(spark, half).count()
    assert (n_full, n_half) == (synth.docs_df(spark, full).count(), synth.docs_df(spark, half).count())
    assert n_half < n_full

    catalog.dims_tables(spark, full)
    wiki, wd = catalog.dims_tables(spark, half)
    assert (wiki.count(), wd.count()) == (
        synth.wiki_pages_df(spark, half).count(),
        synth.wikidata_items_df(spark, half).count(),
    )

    assert dedup.minhash_sig_key(full) != dedup.minhash_sig_key(half)
    dedup.simhash_sig_table(spark, full)
    assert (
        dedup.simhash_sig_table(spark, half).count()
        == dedup.with_near_dups_df(spark, half).count()
    )
