"""Two-parallelism scaling evidence (sandbox proxy for N vs 4N executors).

One job over one input at two parallelism levels. The corpus is built
once (untimed; kept under the temp dir and reused by later runs), then
each level runs in a fresh interpreter with its own JVM, warms up, and
times one pass of a fresh plan (re-collecting the same DataFrame would
reuse its shuffle outputs and time only the final reduce). Prints one
JSON line with both levels and

    efficiency = (rate_hi / rate_lo) / (hi / lo),   rate = n / sec

which the north rule (BASELINE.json) wants >= 0.8. Each level also
reports ``cpu_s``, the CPU seconds of its timed pass (JVM and Python
workers plus the driver thread, summed over executors in procs mode),
and the line carries ``cpu_efficiency = cpu_lo / cpu_hi``: on a box with
no spare cores the hi level's wall time is not cluster-faithful, but
the CPU it burns for the same work still is.

Level modes:

* threads: ``lo``/``hi`` are cores of one executor-emulated JVM
  (``-XX:ActiveProcessorCount`` plus a core-proportional heap). Both
  levels own the whole input and do identical work, so their checksum
  rows must be equal.
* procs (``procs_*``): ``lo``/``hi`` count executors, each its own JVM
  (own heap, GC and task threads) pinned to EXEC_CORES cores, the corpus
  files sharded across them. Executors warm up, meet at a barrier, and
  the level's wall time runs from the start signal to the last result:
  the straggler defines the job, as on a cluster. Shard-local dedup
  finds fewer pairs at more executors, so these levels are not compared.

Warm-up is a full pass, or for the long shuffle-bearing jobs (``prime``)
a JIT-priming pass over the input's first files: a full warm pass would
double an hour-long lo level, and the residual JIT ramp weighs more on
the short hi run, so the efficiency is understated, never overstated.

Usage: python scripts/scaling.py <workload> [n] [lo] [hi]
BENCH/BASELINE.md is written by hand from the output.
"""

import glob
import json
import multiprocessing
import os
import queue
import shutil
import sys
import tempfile
import time
from collections import namedtuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from serbian_osm_lint_spark import synth  # noqa: E402
from serbian_osm_lint_spark.operators import (  # noqa: E402
    checks,
    corpus,
    dedup,
    events,
    media,
    similarity,
    spatial,
)
from serbian_osm_lint_spark.operators.media_fixtures import make_png  # noqa: E402
from serbian_osm_lint_spark.session import get_spark  # noqa: E402
from serbian_osm_lint_spark.streaming import stream  # noqa: E402
from perfbench.probes import tree_cpu_s  # noqa: E402

DIMS_SF = "/root/testdata/sf0.01"  # source of the lint dims (wiki, wikidata)
EXEC_CORES = 4  # cores per simulated executor in procs mode
CC_CHAIN = 512  # cluster roots chained per connected component


def _missing(path):
    return not os.path.exists(os.path.join(path, "_SUCCESS"))


def _files(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _scan(spark, d, files=None):
    return spark.read.parquet(*(files or [d]))


def _row(df):
    return df.collect()[0].asDict()


def _sum6(col, alias):
    """Order-insensitive exact sum of a real column (micro-units)."""
    return F.sum(F.round(F.col(col) * 1e6).cast("long")).alias(alias)


def _sink_dirs(d):
    """Fresh sink and checkpoint directories for one streaming pass."""
    out, ckpt = d + "_sink", d + "_ckpt"
    for p in (out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    return out, ckpt


# ------------------------------------------------------------- workloads
# prep(spark, n, d) builds the corpus at d only if it is missing;
# job(spark, d[, files]) plans the job and returns a zero-arg callable
# whose call is the timed pass and yields the checksum row. ``files``
# (lint, minhash, media) restricts the main input to some of its files:
# a JIT prime, or one executor's shard.


def _docs_prep(spark, n, d):
    if _missing(d):
        synth.docs_range_df(spark, n, 128).write.mode("overwrite").parquet(d)
    # dims are tiny and schema-coupled to the engine: always regenerate
    synth.wiki_pages_df(spark, DIMS_SF).write.mode("overwrite").parquet(d + "_wiki")
    synth.wikidata_items_df(spark, DIMS_SF).write.mode("overwrite").parquet(d + "_wd")


def _lint_job(spark, d, files=None):
    """Verdicts (13 checks x 2 maps) + tile assignments: broadcast joins
    only, no shuffle before the final agg."""
    docs = _scan(spark, d, files)
    wiki, wd = spark.read.parquet(d + "_wiki"), spark.read.parquet(d + "_wd")
    v = checks.lint_verdicts_df(spark, docs, wiki, wd).agg(
        F.count("*").alias("verdicts"),
        F.sum(F.length("message")).alias("mb"),
        F.sum(F.length("check_name")).alias("cb"),
    )
    t = spatial.tile_assignment_df(spark, docs).agg(
        F.count("*").alias("tiles"), F.sum(F.length("tile_id")).alias("tb")
    )
    return lambda: {**_row(v), **_row(t)}


def _stream_lint_job(spark, d):
    """The lint pipeline through the micro-batch layer (checkpoint
    commits, sink file commits, per-batch planning)."""
    out, ckpt = _sink_dirs(d)
    wiki, wd = spark.read.parquet(d + "_wiki"), spark.read.parquet(d + "_wd")

    def run():
        stream.stream_lint_verdicts(spark, d, out, ckpt, wiki, wd)
        return lambda: _row(
            spark.read.parquet(out + "/verdicts").agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64("doc_id", "map_name", "check_name", "result")).alias("h"),
            )
        )

    return run


def _texts_prep(spark, n, d):
    # planted exact dups every 5th doc, near dups every 7th: linear pair
    # counts and live 13-gram train/holdout hits at every scale
    if _missing(d):
        synth.texts_range_df(spark, n, 128).write.mode("overwrite").parquet(d)


def _minhash_job(spark, d, files=None):
    """MinHash-LSH end to end: signatures, band explode, band-bucket
    self-join (shuffle), exact-Jaccard verify, distinct."""
    agg = dedup.lsh_verified_pairs_from(_scan(spark, d, files)).agg(
        F.count("*").alias("pairs"), _sum6("jaccard", "js")
    )
    return lambda: _row(agg)


def _decontam_job(spark, d):
    """Gram hashing, explode, distinct holdout grams, one equi-join on
    the gram hash, per-doc count, left join back."""
    flagged = corpus.decontaminate_from(
        spark.read.parquet(d).select(
            "doc_id", "text", corpus.split_col(F.col("doc_id")).alias("split")
        )
    )
    agg = flagged.agg(
        F.count("*").alias("n"),
        F.sum("n_contaminated_grams").alias("s"),
        F.bit_xor(F.xxhash64("doc_id", "n_contaminated_grams", "is_contaminated")).alias("h"),
    )
    return lambda: _row(agg)


def _sigs_prep(spark, n, d):
    if _missing(d):
        texts = synth.texts_range_df(spark, n, partitions=128)
        dedup._shingled_sig_from(texts).write.mode("overwrite").parquet(d)


def _stored_pairs_job(spark, d):
    """Pair generation over the stored signature table: scan, band-key
    explode, one band-key shuffle self-join, inline hashed-shingle
    Jaccard, distinct. No text column and no shingle derivation."""
    pairs = dedup.verified_pairs_skinny_fetch(spark.read.parquet(d), dedup.JACCARD_THRESHOLD)
    agg = pairs.agg(F.count("*").alias("pairs"), _sum6("jaccard", "js"))
    return lambda: _row(agg)


def _cc_prep(spark, n, d):
    # n nodes in star clusters of 8, cluster roots chained in blocks of
    # CC_CHAIN: components of 4,096 nodes with diameter ~1,024 force the
    # full O(log n) round count (~12); edge count ~ n
    if not _missing(d):
        return
    i = F.col("id")
    nodes = spark.range(n).select(i)
    stars = nodes.filter(i % 8 != 0).select((i - i % 8).alias("doc_id_a"), i.alias("doc_id_b"))
    k = F.col("k")
    roots = nodes.filter(i % 8 == 0).select((i / 8).cast("long").alias("k"))
    chains = roots.filter(k % CC_CHAIN != 0).select(
        ((k - 1) * 8).alias("doc_id_a"), (k * 8).alias("doc_id_b")
    )
    stars.unionByName(chains).repartition(128).write.mode("overwrite").parquet(d)


def _cc_job(spark, d):
    """Connected components (hook + pointer-jump): per round one
    edges-labels shuffle, a labels self-join and an eager checkpoint."""
    pairs = spark.read.parquet(d)

    def run():
        out, rounds = dedup._components_with_rounds(pairs)
        row = _row(
            out.agg(
                F.count("*").alias("nodes"),
                F.bit_xor(F.xxhash64("doc_id", "component_id")).alias("hash"),
            )
        )
        return {**row, "rounds": rounds}

    return run


def _pq_prep(spark, n, d):
    emb = os.path.join(d, "embeddings.parquet")
    if _missing(emb):
        i = F.col("id")
        spark.range(0, n, 1, 64).select(
            i.alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(similarity.EMB_DIM)),
                lambda j: (
                    (F.pmod(F.xxhash64(i * 131 + j.cast("long")), F.lit(2000)) - 1000) / 1000.0
                ).cast("float"),
            ).alias("embedding"),
            F.pmod(i, F.lit(10)).cast("int").alias("label"),
        ).write.mode("overwrite").parquet(emb)
    similarity.pq_code_table(spark, d)  # encoded once (catalog-cached), untimed


def _pq_job(spark, d):
    """Stored-code PQ/ADC top-k for a 20-query batch: skinny code scan,
    ADC against broadcast per-query LUTs, per-query top window, by-id
    vector fetch, exact cosine re-rank."""
    agg = similarity.ann_pq_topk_stored_df(spark, d).agg(
        F.count("*").alias("rows"), F.round(F.sum("cosine"), 6).alias("checksum")
    )
    return lambda: _row(agg)


def _media_prep(spark, n, d):
    # every 4th payload a real 16x16 PNG (header-parse decode path), the
    # rest utf-8 refs on the md5 stub path
    if not _missing(d):
        return
    i = F.col("id")
    ref = F.concat(F.lit("img/n"), i.cast("string"))
    payload = F.when(i % 4 == 0, F.lit(bytearray(make_png(16, 16)))).otherwise(
        F.encode(ref, "utf-8")
    )
    spark.range(n).select(
        F.concat(F.lit("d"), i.cast("string")).alias("doc_id"),
        ref.alias("media_ref"),
        payload.alias("payload"),
    ).repartition(128).write.mode("overwrite").parquet(d)


def _media_job(spark, d, files=None):
    """mapInPandas feature extraction: Arrow-batched Python workers,
    shuffle-free, so bounded only by worker fan-out."""
    agg = media.media_features_from(_scan(spark, d, files)).agg(
        F.count("*").alias("n"),
        F.sum("width").alias("width_sum"),
        _sum6("feature_0", "feat_sum"),
    )
    return lambda: _row(agg)


def _events_prep(spark, n, d):
    # n events over n/64 users; per-user increasing, globally interleaved
    # timestamps
    path = os.path.join(d, "events.parquet")
    if not _missing(path):
        return
    i = F.col("id")
    users = max(n // 64, 1)
    ts = F.timestamp_micros(F.lit(1704067200000000) + i * 1357 + (i % 97) * 1000003)
    kinds = F.array(F.lit("click"), F.lit("view"), F.lit("error"))
    # a user's events are i = user_id + k * users, so when 3 divides the
    # user count i % 3 alone gives each user ONE type; shifting by k there
    # cycles every user through all three (other counts keep i % 3)
    kind = i % 3 if users % 3 else (i + F.expr(f"id div {users}")) % 3
    spark.range(n).select(
        i.alias("event_id"),
        ts.cast("timestamp_ntz").alias("ts"),
        (i % users).alias("user_id"),
        F.element_at(kinds, (kind + 1).cast("int")).alias("event_type"),
        F.round((i % 1000) / 10.0, 2).alias("value"),
        F.lit("{}").alias("props"),
    ).repartition(128).write.mode("overwrite").parquet(path)


def _asof_job(spark, d):
    """Union-merge as-of join: one shuffle on user_id, then a per-user
    sort and running-state window pass."""
    agg = events.asof_join_df(spark, d).agg(
        F.count("*").alias("n"),
        F.sum("asof_event_id").alias("s"),
        F.bit_xor(F.xxhash64("event_id", "asof_event_id")).alias("h"),
    )
    return lambda: _row(agg)


def _stream_job(spark, d):
    """Windowed event aggregation as one AvailableNow pass (watermark,
    append mode), timed end to end with its checkpoint and parquet sink."""
    out, ckpt = _sink_dirs(d)

    def run():
        events.stream_events_windowed(spark, os.path.join(d, "events.parquet"), out, ckpt)
        return lambda: _row(
            spark.read.parquet(out).agg(
                F.count("*").alias("n"),
                F.bit_xor(
                    F.xxhash64("window_start", "event_type", "n_events", "sum_value")
                ).alias("h"),
            )
        )

    return run


Workload = namedtuple(
    "Workload", "corpus prep job n lo hi prime procs unit", defaults=(0, False, "docs")
)
#: name -> corpus directory stem, prep, job, default n/lo/hi, warm-up
#: (prime = JIT-prime on that many input files, 0 = full warm pass),
#: level mode, and the unit of n.
WORKLOADS = {
    "lint": Workload("docs", _docs_prep, _lint_job, 2_000_000, 8, 32),
    "minhash": Workload("texts", _texts_prep, _minhash_job, 16_000_000, 4, 16, prime=8),
    "procs_lint": Workload("docs", _docs_prep, _lint_job, 32_000_000, 2, 8, procs=True),
    "procs_minhash": Workload(
        "texts", _texts_prep, _minhash_job, 32_000_000, 2, 8, prime=1, procs=True
    ),
    "cc": Workload("cc", _cc_prep, _cc_job, 4_000_000, 4, 16, unit="nodes"),
    "stored_pairs": Workload("sigs", _sigs_prep, _stored_pairs_job, 8_000_000, 4, 16),
    "pq": Workload("pq", _pq_prep, _pq_job, 2_000_000, 8, 32, unit="vecs"),
    "media": Workload("media", _media_prep, _media_job, 16_000_000, 4, 16, prime=8, unit="rows"),
    "asof": Workload("events", _events_prep, _asof_job, 32_000_000, 4, 16, unit="events"),
    "decontam": Workload("texts", _texts_prep, _decontam_job, 8_000_000, 4, 16),
    "stream": Workload("events", _events_prep, _stream_job, 32_000_000, 4, 16, unit="events"),
    "stream_lint": Workload("docs", _docs_prep, _stream_lint_job, 16_000_000, 4, 16),
}


# --------------------------------------------------------------- harness
def corpus_dir(w, n):
    return os.path.join(tempfile.gettempdir(), f"scaling_{w.corpus}_{n}")


def _cpu_s():
    """CPU seconds so far of this process's driver thread and of every
    process below it (the JVM and its Python workers)."""
    return tree_cpu_s(os.getpid(), python_only=False) + time.thread_time()


def measure(w, spark, d, files=None, barrier=lambda: None):
    """Warm up, then time one pass of a fresh plan over ``files`` (all of
    the corpus when None). Returns (seconds, CPU seconds, checksum row)."""

    def plan(fs):
        return w.job(spark, d, fs) if fs else w.job(spark, d)

    plan((files or _files(d))[: w.prime] if w.prime else files)()
    timed = plan(files)
    barrier()
    cpu0, t0 = _cpu_s(), time.perf_counter()
    row = timed()
    sec, cpu = time.perf_counter() - t0, _cpu_s() - cpu0
    if callable(row):  # a stream's sink is read back after the clock stops
        row = row()
    return sec, cpu, row


def _prep(name, n, cpus):
    w = WORKLOADS[name]
    spark = get_spark(f"scaling-prep-{name}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    w.prep(spark, n, corpus_dir(w, n))


def _thread_level(name, n, cpus):
    w = WORKLOADS[name]
    spark = get_spark(f"scaling-{name}", cpus=cpus, emulate_executors=True)
    spark.sparkContext.setLogLevel("ERROR")
    sec, cpu, row = measure(w, spark, corpus_dir(w, n))
    return {"cpus": cpus, "sec": round(sec, 2), "cpu_s": round(cpu, 2),
            f"{w.unit}_per_sec": round(n / sec, 1), "checksum": row}


def _in_fresh_process(fn, *args):
    """``fn(*args)`` in a new interpreter, so it starts its own JVM."""
    pool = multiprocessing.get_context("spawn").Pool(1)
    try:
        return pool.apply(fn, args)
    finally:
        pool.close()
        pool.join()


def _executor(name, d, shard, ready, go, done):
    """One simulated executor: a local[EXEC_CORES] JVM over its shard."""
    spark = (
        SparkSession.builder.appName(f"scaling-{name}-executor")
        .master(f"local[{EXEC_CORES}]")
        .config("spark.sql.shuffle.partitions", str(EXEC_CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", f"{int(1.25 * EXEC_CORES)}g")
        .config("spark.driver.extraJavaOptions", f"-XX:ActiveProcessorCount={EXEC_CORES}")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def barrier():
        ready.put(True)
        go.wait()

    done.put(measure(WORKLOADS[name], spark, d, shard, barrier))


def _one_each(procs, q):
    """One item per process from ``q``; fails fast when a process dies."""
    items = []
    while len(items) < len(procs):
        try:
            items.append(q.get(timeout=1))
        except queue.Empty:
            if any(p.exitcode for p in procs):
                raise SystemExit("an executor process failed")
    return items


def _procs_level(name, n, execs):
    w = WORKLOADS[name]
    d = corpus_dir(w, n)
    files = _files(d)
    if len(files) < execs:
        raise SystemExit(f"{d}: {len(files)} files cannot feed {execs} executors")
    ctx = multiprocessing.get_context("spawn")
    ready, go, done = ctx.Queue(), ctx.Event(), ctx.Queue()
    procs = [
        ctx.Process(target=_executor, args=(name, d, files[i::execs], ready, go, done),
                    daemon=True)
        for i in range(execs)
    ]
    for p in procs:
        p.start()
    _one_each(procs, ready)
    go.set()
    t0 = time.perf_counter()
    results = _one_each(procs, done)
    wall = time.perf_counter() - t0
    for p in procs:
        p.join()
    rows = [row for _, _, row in results]
    return {
        "executors": execs,
        "cores": execs * EXEC_CORES,
        "sec": round(wall, 2),
        "max_worker_sec": round(max(sec for sec, _, _ in results), 2),
        "cpu_s": round(sum(cpu for _, cpu, _ in results), 2),
        f"{w.unit}_per_sec": round(n / wall, 1),
        "checksum": {k: sum(r[k] for r in rows) for k in rows[0]},
    }


def main(argv):
    if not argv or argv[0] not in WORKLOADS:
        raise SystemExit(f"usage: scaling.py {{{','.join(WORKLOADS)}}} [n] [lo] [hi]")
    name = argv[0]
    w = WORKLOADS[name]
    args = [int(a) for a in argv[1:]]
    n, lo, hi = args + [w.n, w.lo, w.hi][len(args):]
    # levels and pandas-UDF workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    _in_fresh_process(_prep, name, n, hi)
    results = []
    for level in (lo, hi):
        # flush dirty pages first: a corpus write still flushing stalls a
        # level's shuffle writes (the same hi level read 14.7 s on a
        # settled box and 100 s mid-writeback)
        os.sync()
        if w.procs:
            results.append(_procs_level(name, n, level))
        else:
            results.append(_in_fresh_process(_thread_level, name, n, level))
    res_lo, res_hi = results
    if not w.procs and res_lo["checksum"] != res_hi["checksum"]:
        raise SystemExit(f"level outputs differ: {res_lo} vs {res_hi}")
    rate = f"{w.unit}_per_sec"
    print(json.dumps({
        "workload": name,
        "n": n,
        "lo": res_lo,
        "hi": res_hi,
        "scaling_factor": hi / lo,
        "efficiency": round((res_hi[rate] / res_lo[rate]) / (hi / lo), 3),
        "cpu_efficiency": round(res_lo["cpu_s"] / res_hi["cpu_s"], 3),
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
