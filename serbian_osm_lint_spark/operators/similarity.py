# -*- coding: utf-8 -*-
"""Similarity search over the ``embeddings`` table (array<float> column).

* :func:`ann_cosine_topk_df` — brute-force cosine top-k: the exactness
  baseline. Query set × corpus as a broadcast nested-loop join with the
  dot product as native ``zip_with``/``aggregate`` column math (no UDF,
  no Python). At scale the query side is small/broadcast; the corpus
  side streams — one pass, no shuffle except the final top-k window.
* :func:`ann_lsh_topk_df` — the scale path: random-hyperplane LSH.
  Hyperplane weights are a deterministic LCG of (plane, dim) — no RNG —
  so the bucket assignment is reproducible across engines and runs
  (resume-safe). The plane count is DERIVED from the corpus size
  (``dedup.n_planes_for`` — bucket occupancy stays bounded as the
  corpus scales); each query probes its own sign-bucket plus the 1-bit
  flips, then exact cosine re-ranks the candidates. Recall < 1 by
  construction; the oracle replays the identical spec, so equality
  still holds.
* :func:`ann_ivf_topk_df` / :func:`ann_ivf_topk_stored_df` — IVF: each
  vector's best of 16 data-derived centroid cells (:func:`_ivf_assign`,
  inline or the stored :func:`ivf_assignment_table`); each query probes
  its top-``N_PROBE`` cells (:func:`_ivf_topk`).
* :func:`ann_pq_topk_df` / :func:`ann_pq_topk_stored_df` — product
  quantization: an ADC scan over 8 sub-codes per vector (inline or the
  stored :func:`pq_code_table`), then an exact re-rank of the top
  ``PQ_CANDS`` (:func:`pq_topk_frames`).

All six faces read the corpus through :func:`_emb` / :func:`_emb_spread`,
take their query set from :func:`_queries` (a recompute face over its own
corpus frame, whose ``vec_id`` filter Catalyst pushes down to a pruned
scan; a stored face over :func:`_emb`), and end in one tail:
exact cosine (:func:`_cosine_scored`) and the ``(cosine desc,
neighbor_id)`` top-k (:func:`_cosine_topk`).

Float discipline: embeddings are float32; both engines cast elements to
double *before* multiplying, and cosines are rounded to 6 decimals (libm
/ association-order ulps). Ranking uses (rounded cosine, neighbor id) so
ordering is engine-independent.
"""

from __future__ import annotations

EMB_DIM = 64
TOPK = 5
N_QUERIES = 20  # vec_id < N_QUERIES form the query set

#: independent hyperplane SETS (band-OR amplification, VERDICT r3 item 2):
#: candidates are the UNION over sets of same-bucket collisions, exactly
#: the multiple-independent-bucket-functions construction that made
#: simhash recall exact. A near pair split by >= 2 planes of set 0 (the
#: 1-bit-probe blind spot) is found whenever ANY set leaves it <= 1 plane
#: apart; per-set miss probabilities multiply.
N_PLANE_SETS = 3
#: plane-index stride between sets (set s uses LCG plane indices
#: [s*stride, s*stride + n_planes)); centroids live at offset 1000+, so
#: strides stay clear of them for any realistic plane count.
PLANE_SET_STRIDE = 200


def _lcg_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-weight in [-1, 1): LCG over (plane, dim)."""
    x = (1103515245 * (plane * EMB_DIM + dim) + 12345) % 2147483648
    return ((x % 2001) - 1000) / 1000.0


def _hyperplanes(n_planes: int, plane_set: int = 0) -> list[list[float]]:
    base = plane_set * PLANE_SET_STRIDE
    return [[_lcg_weight(base + p, d) for d in range(EMB_DIM)] for p in range(n_planes)]


# ------------------------------------------------------------------ spark
def _dot(a, b):
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _to_double(col):
    """float[] → double[] as ONE native array cast. The old per-element
    ``transform(x -> cast)`` ran interpreted (higher-order functions have
    no codegen) at ~13 μs/row measured — the native Cast widens each
    element identically (same IEEE value, asserted equal in tests) inside
    whole-stage codegen."""
    return col.cast("array<double>")


def _emb_spread(spark, sf_dir: str):
    """The embeddings table as (vec_id, v:double[]) spread across the
    cluster. The driver file is 1-2 row groups, so the raw scan plans as
    1-2 tasks (guide §2.5 input skew); HASH repartition on vec_id spreads
    it without round-robin's sort-before-repartition pass (the map side
    of a keyless repartition must locally sort entire rows — measured
    ~1.2 s of the old IVF wall clock on the 2 scan tasks). Floats cross
    the exchange; the double cast runs post-shuffle on full parallelism."""
    from pyspark.sql import functions as F

    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .repartition(n, "vec_id")
        .select("vec_id", _to_double(F.col("embedding")).alias("v"))
    )


def _emb(spark, sf_dir: str):
    """The embeddings table as (vec_id, v:double[]), as scanned."""
    from pyspark.sql import functions as F

    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _to_double(F.col("embedding")).alias("v")
    )


def _queries(emb, n_queries: int):
    """(query_id, qv, qn): the ``vec_id < n_queries`` prefix of a (vec_id,
    v) frame with its norms."""
    from pyspark.sql import functions as F

    return emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), _norm(F.col("v")).alias("qn")
    )


def _cosine(a, b):
    from pyspark.sql import functions as F

    return F.round(_dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))), 6)


def _norm(v):
    """sqrt(v·v) — the per-vector factor of :func:`_cosine`."""
    from pyspark.sql import functions as F

    return F.sqrt(_dot(v, v))


def _cosine_pre(a, b, na, nb):
    """Cosine from PRE-HOISTED per-vector norms (guide §1.2): pair joins
    evaluate the cosine once per candidate pair, and two of its three
    dot products (a·a, b·b) depend on one side only — hoisting
    ``sqrt(dot)`` into the per-vector projections cuts per-pair array
    work to ONE dot. Same expression tail over identical inputs
    (``round(dot / (na * nb), 6)``), so the double result is
    bit-identical to :func:`_cosine`."""
    from pyspark.sql import functions as F

    return F.round(_dot(a, b) / (na * nb), 6)


#: hyperplane-literal memo, keyed by (n_planes, plane_set): like the PQ/IVF
#: codebook literal (_cb_lit), the n×64 nested F.lit walks py4j element by
#: element, and the unrolled per-plane form made expression CONSTRUCTION
#: cost more than execution on every LSH-bucketed face (measured r7:
#: ann_lsh_topk 3.4 s build vs 1.6 s exec per fresh plan).
_PLANES_LIT_CACHE: dict = {}


def _planes_lit(n_planes: int, plane_set: int):
    from pyspark.sql import functions as F

    key = (n_planes, plane_set)
    if key not in _PLANES_LIT_CACHE:
        _PLANES_LIT_CACHE[key] = F.lit(_hyperplanes(n_planes, plane_set))
    return _PLANES_LIT_CACHE[key]


def sign_bucket_col(v, n_planes: int, plane_set: int = 0):
    """Random-hyperplane sign bucket of a double-array column: bit p is
    set iff dot(v, plane_p) > 0. Deterministic (LCG planes, no RNG);
    ``plane_set`` selects one of the independent band-OR plane sets.

    Same values as the unrolled per-plane form (identical dot fold and
    bit weights, summed in plane order) built as zip_with/aggregate over
    the memoized plane literal."""
    from pyspark.sql import functions as F

    pl = _planes_lit(n_planes, plane_set)
    pows = F.lit([1 << i for i in range(n_planes)])
    terms = F.zip_with(pl, pows, lambda p, w: (_dot(v, p) > 0).cast("int") * w)
    return F.aggregate(terms, F.lit(0), lambda a, x: a + x)


#: plane-term budget for the DYNAMIC SQL twins: covers corpora up to
#: TARGET_BUCKET_SIZE * 2^16 = 2M vectors, far past any driver scale.
MAX_ORACLE_PLANES = 16


def sql_n_planes(count_from: str) -> str:
    """SQL replica of ``dedup.n_planes_for`` over a live ``count(*)`` —
    the twins derive the plane count from the scanned table instead of
    pinning a corpus size, so the oracle gate is scale-generic.

    Past :data:`MAX_ORACLE_PLANES` (≈2M vectors) the twin's plane-term
    budget runs out; rather than silently dropping the high plane bits
    while the Spark face keeps them (ADVICE r4), the twin RAISES via
    DuckDB ``error()`` — an over-budget corpus fails the oracle loudly."""
    from .dedup import TARGET_BUCKET_SIZE

    derived = (
        f"GREATEST(1, CAST(CEIL(LOG2(GREATEST(2.0, "
        f"count(*) / {TARGET_BUCKET_SIZE}.0))) AS INT))"
    )
    return (
        f"SELECT CASE WHEN {derived} > {MAX_ORACLE_PLANES} THEN "
        f"CAST(error('corpus needs ' || {derived} || ' planes > MAX_ORACLE_PLANES="
        f"{MAX_ORACLE_PLANES}: raise the oracle plane budget') AS INT) "
        f"ELSE {derived} END AS n FROM {count_from}"
    )


def sql_sign_bucket_dyn(v: str, np_expr: str, plane_set: int = 0) -> str:
    """Sign bucket with a RUNTIME plane count (``np_expr``, a 1-row CTE
    column): plane ``i`` contributes its bit only when ``i < np_expr``.
    All :data:`MAX_ORACLE_PLANES` dot products appear in the SQL text;
    the CASE gates which feed the bucket."""
    bit_terms = []
    for i, plane in enumerate(_hyperplanes(MAX_ORACLE_PLANES, plane_set)):
        arr = "[" + ", ".join(repr(w) for w in plane) + "]"
        bit_terms.append(
            f"(CASE WHEN {i} < {np_expr} AND {_sql_dot(v, arr)} > 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(bit_terms) + ")"


def _topk_per_query(scored, order_cols, k: int, rank_col: str | None = None):
    """Two-phase per-query top-k over a corpus-proportional scored frame.

    Phase 1 ranks within (query_id, PHYSICAL input partition) — a
    high-parallelism window whose shuffle spreads over n_queries ×
    n_partitions keys — and keeps each partition's local top-k; phase 2
    runs the exact global window over the ≤ n_partitions × k survivors.
    Identical result to a single global window for ANY partitioning
    (global top-k ⊆ union of per-partition top-k), but the single-window
    form funnels EVERY scored row into just n_queries reducers: measured
    r7 at 2M vectors × 20 queries, thread scaling was NEGATIVE (25 s at
    32 threads vs 19 s at 8) until this split; with it the reduce side
    parallelizes with the input.

    ``order_cols`` must end in a total tie-break (neighbor_id) so both
    phases are deterministic. Returns the top-k rows; with ``rank_col``,
    appends the int rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pre_w = Window.partitionBy("query_id", "_pid").orderBy(*order_cols)
    pre = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prn", F.row_number().over(pre_w))
        .filter(F.col("_prn") <= k)
        .drop("_pid", "_prn")
    )
    w = Window.partitionBy("query_id").orderBy(*order_cols)
    ranked = pre.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    if rank_col is None:
        return ranked.drop("_rn")
    return ranked.withColumn(rank_col, F.col("_rn").cast("int")).drop("_rn")


def _cosine_scored(cand):
    """(query_id, neighbor_id, cosine) of candidate pairs carrying the
    query side (query_id, qv, qn) and the corpus side (vec_id, v, vnorm);
    a query is never its own neighbor."""
    from pyspark.sql import functions as F

    return cand.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine_pre(F.col("qv"), F.col("v"), F.col("qn"), F.col("vnorm")).alias("cosine"),
    )


def _cosine_topk(scored, k: int):
    """(query_id, neighbor_id, cosine, rank): the per-query top-``k`` of a
    scored frame by (cosine desc, neighbor_id) — every face's tail."""
    from pyspark.sql import functions as F

    return _topk_per_query(
        scored, [F.desc("cosine"), F.col("neighbor_id")], k, "rank"
    ).select("query_id", "neighbor_id", "cosine", "rank")


def ann_cosine_topk_df(spark, sf_dir: str, k: int = TOPK, n_queries: int = N_QUERIES):
    """(query_id, neighbor_id, cosine, rank): brute-force top-k."""
    from pyspark.sql import functions as F

    emb = _emb_spread(spark, sf_dir).withColumn("vnorm", _norm(F.col("v")))
    pairs = emb.crossJoin(F.broadcast(_queries(emb, n_queries)))
    return _cosine_topk(_cosine_scored(pairs), k)


def ann_lsh_topk_df(spark, sf_dir: str, k: int = TOPK, n_queries: int = N_QUERIES):
    """LSH-bucketed variant: band-OR over :data:`N_PLANE_SETS`
    independent sign-bucket plane sets (plane count derived from the
    corpus size via parquet FOOTER metadata — zero sizing jobs), each
    query probing its per-set bucket + the 1-bit flips; candidates are
    unioned across sets, deduped, then exact-cosine re-ranked. A true
    neighbor is missed only if EVERY set splits it by ≥ 2 planes."""
    from pyspark.sql import functions as F

    from ..sources.catalog import parquet_row_count
    from .dedup import n_planes_for, probe_set_buckets_col, set_buckets_col

    n_planes = n_planes_for(parquet_row_count(f"{sf_dir}/embeddings.parquet"))
    emb = _emb(spark, sf_dir).withColumn("vnorm", _norm(F.col("v")))
    corpus = emb.select(
        F.posexplode(set_buckets_col(F.col("v"), n_planes, N_PLANE_SETS)).alias(
            "set_id", "bucket"
        ),
        "vec_id",
        "v",
        "vnorm",
    )
    queries = _queries(emb, n_queries).select(
        F.explode(
            probe_set_buckets_col(F.col("qv"), n_planes, N_PLANE_SETS, multiprobe=True)
        ).alias("p"),
        "query_id",
        "qv",
        "qn",
    ).select("p.*", "query_id", "qv", "qn")
    cand = corpus.join(F.broadcast(queries), ["set_id", "bucket"])
    # a candidate found by several sets/probes scores once
    return _cosine_topk(_cosine_scored(cand).distinct(), k)


N_CENTROIDS = 16
N_PROBE = 4


#: driver-side codebook memo, keyed by (embeddings path, footer row
#: count, file fingerprint): the codebook is derived deterministically
#: from the corpus, so re-deriving it per query only repeats the same
#: scan + 16-row collect. Production materializes the codebook once at
#: build time; the memo is the in-process equivalent. The key carries a
#: cheap CONTENT fingerprint (per-part size + mtime, no data read) on top
#: of the row count, so a rewritten table with the same row count but
#: different vectors can't serve a stale codebook (ADVICE r6).
_CODEBOOK_CACHE: dict = {}


def data_centroids(spark, sf_dir: str) -> list[list[float]]:
    """IVF 'training': :data:`N_CENTROIDS` DATA-DERIVED centroids
    (VERDICT r4 item 8) — per md5(vec_id) hash stratum, the corpus vector
    with the smallest vec_id. Deterministic and RNG-free, so the DuckDB
    twin replays it as ``arg_min(v, vec_id) GROUP BY stratum``; actual
    corpus vectors cover the data distribution where LCG noise doesn't.

    Cost shape: one column-pruned agg (``min_by`` partial-aggregates
    map-side, the shuffle is ≤ :data:`N_CENTROIDS` rows/partition) and a
    16-row driver collect — the codebook every IVF build materializes,
    memoized per (path, row count) across queries (see
    :data:`_CODEBOOK_CACHE`).
    A corpus too small to fill all strata raises (mirrored by the twin's
    ``error()`` guard): IVF over a handful of vectors is a spec error,
    and a silent LCG fallback would diverge from the SQL twin."""
    import os

    from pyspark.sql import functions as F

    from ..sources.catalog import fingerprint, parquet_row_count

    path = f"{sf_dir}/embeddings.parquet"
    cache_key = (os.path.normpath(path), parquet_row_count(path), fingerprint(path))
    if cache_key in _CODEBOOK_CACHE:
        return _CODEBOOK_CACHE[cache_key]

    emb = _emb(spark, sf_dir)
    stratum = F.pmod(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(N_CENTROIDS),
    )
    reps = (
        emb.groupBy(stratum.alias("stratum"))
        .agg(F.min_by("v", "vec_id").alias("c"))
        .collect()
    )
    cents = {int(r.stratum): [float(x) for x in r.c] for r in reps}
    if len(cents) < N_CENTROIDS:
        raise ValueError(
            f"corpus fills only {len(cents)}/{N_CENTROIDS} centroid strata — "
            f"too small for IVF"
        )
    out = [cents[c] for c in range(N_CENTROIDS)]
    _CODEBOOK_CACHE[cache_key] = out
    return out


def _norms_of(centroids: list[list[float]]) -> list[float]:
    import math

    return [math.sqrt(sum(w * w for w in c)) for c in centroids]


def centroid_scores_col(v, centroids: list[list[float]]):
    """Array of N_CENTROIDS rounded normalized-dot scores for a vector
    against the ``centroids`` codebook (:func:`data_centroids`).

    Built as zip_with over the memoized nested-array codebook literal —
    same values as the unrolled 16-dot form (identical left-to-right
    fold, Python-computed norms, round at 6) at ~1/20 the client-side
    expression-construction cost (the unrolled form's 1,024 F.lit py4j
    round trips were ~half the benched per-run latency of the IVF faces;
    measured r7)."""
    from pyspark.sql import functions as F

    cb = _cb_lit(centroids)
    norms = F.lit(_norms_of(centroids))
    return F.zip_with(cb, norms, lambda c, nm: F.round(_dot(v, c) / nm, 6))


def _probe_cells_col(cscores):
    """Array of the 1-based cells of the top-``N_PROBE`` centroid scores,
    ordered by (score desc, position asc) — the EXACT selection the old
    posexplode + row_number window made, computed per row with array ops
    instead (r8, guide §2.4: the window's exchange + sort was a whole
    extra job chain per IVF query batch for a 16-element ranking). The
    comparator reproduces the window's tie-break: rounded scores compare
    exactly, ties fall to the smaller position."""
    from pyspark.sql import functions as F

    idx = F.sequence(F.lit(1), F.size(cscores))
    pairs = F.zip_with(
        cscores, idx, lambda s, p: F.struct(s.alias("score"), p.alias("pos"))
    )
    srt = F.array_sort(
        pairs,
        lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
        .when(a["score"] < b["score"], F.lit(1))
        .otherwise(a["pos"] - b["pos"]),
    )
    return F.transform(F.slice(srt, 1, N_PROBE), lambda x: x["pos"])


def _ivf_assign(emb, cents: list[list[float]]):
    """The IVF store row ``(vec_id, v, vnorm, cell)`` over a ``(vec_id,
    v)`` frame: each vector's best-scoring centroid cell and its norm —
    the one assignment behind the stored table and the recompute face."""
    from pyspark.sql import functions as F

    scored = emb.withColumn("cscores", centroid_scores_col(F.col("v"), cents))
    return scored.select(
        "vec_id",
        "v",
        _norm(F.col("v")).alias("vnorm"),
        F.array_position(F.col("cscores"), F.array_max("cscores")).alias("cell"),
    )


def _ivf_topk(corpus, queries, cents: list[list[float]], k: int):
    """Probe + re-rank shared by both IVF faces: each query of
    :func:`_queries` probes its top-``N_PROBE`` cells via per-row array
    top-n (:func:`_probe_cells_col` — same (score desc, pos asc) selection
    as a posexplode + window, without the window's exchange + sort job),
    and the cells' :func:`_ivf_assign` rows are exact-cosine re-ranked."""
    from pyspark.sql import functions as F

    probes = queries.select(
        "query_id",
        "qv",
        "qn",
        F.explode(_probe_cells_col(centroid_scores_col(F.col("qv"), cents))).alias("cell"),
    )
    cand = corpus.join(F.broadcast(probes), "cell")
    return _cosine_topk(_cosine_scored(cand), k)


def ann_ivf_topk_df(spark, sf_dir: str, k: int = TOPK, n_queries: int = N_QUERIES):
    """IVF-style ANN: corpus vectors are assigned to their best of 16
    DATA-DERIVED centroids (:func:`data_centroids`; one shuffle on the
    centroid id); each query probes its top-``N_PROBE`` centroids and
    re-ranks candidates by exact cosine. The classic coarse-quantizer
    scale path: per-query work is bounded by the probed cells, recall < 1
    by construction, and the DuckDB oracle replays the identical
    deterministic spec (same stratum rule, same arg-min representative).
    """
    cents = data_centroids(spark, sf_dir)
    corpus = _ivf_assign(_emb_spread(spark, sf_dir), cents)
    return _ivf_topk(corpus, _queries(corpus, n_queries), cents, k)


#: bump when the IVF assignment derivation changes (invalidates stored tables).
#: v2: + stored per-vector norm (vnorm) — the per-pair re-rank cosine needs
#: one dot instead of three (guide §1.2; same bits, hoisted).
IVF_VERSION = "v2"


def ivf_assignment_table(spark, sf_dir: str):
    """The STORED IVF assignment table ``(vec_id, v, vnorm, cell)`` — the
    coarse-quantizer assignment computed ONCE at ingest (VERDICT r6 item
    4, completing the ingest-once family next to
    ``dedup.minhash_sig_table`` / ``simhash_sig_table``), written via the
    catalog and PARTITIONED BY ``cell``: each centroid's inverted list is
    a partition directory, so a query probing ``N_PROBE`` cells reads
    only those cells' files (partition pruning) instead of scoring every
    corpus vector against every centroid per query. At 10^10 vectors this
    is the difference between an IVF index and a full re-assignment scan.

    The cache key carries the embeddings table's content fingerprint
    (size+mtime digest — no data read), so a rewritten corpus rebuilds
    the assignment instead of serving stale cells."""
    from ..sources import catalog

    cents = data_centroids(spark, sf_dir)
    return catalog.cached_table(
        spark,
        f"ivf_assign_{catalog.source_key(sf_dir, 'embeddings')}_{IVF_VERSION}",
        lambda: _ivf_assign(_emb_spread(spark, sf_dir), cents),
        partition_by=["cell"],
    )


def ann_ivf_topk_stored_df(spark, sf_dir: str, k: int = TOPK, n_queries: int = N_QUERIES):
    """Stored-assignment face of :func:`ann_ivf_topk_df`: identical output
    (same oracle SQL), but the per-query cost is probe + exact-cosine
    re-rank over the PRUNED stored scan — no corpus-wide centroid scoring
    per query. The probe side is a tiny broadcast (``n_queries × N_PROBE``
    rows), so Spark's dynamic partition pruning turns the ``cell``
    equi-join into reading only the probed cells' partition directories
    (asserted in tests/test_plan_shape.py). The query side is the
    ``n_queries`` vectors re-read from the source table (a tiny
    min/max-pruned scan); their centroid scores are n_queries × 16 dot
    products — independent of corpus size."""
    cents = data_centroids(spark, sf_dir)
    queries = _queries(_emb(spark, sf_dir), n_queries)
    return _ivf_topk(ivf_assignment_table(spark, sf_dir), queries, cents, k)


# -------------------------------------------------------------------- sql
_SQL_EMB = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"


def _sql_dot(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"round({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})), 6)"
    )


def sql_ann_cosine_topk(k: int = TOPK, n_queries: int = N_QUERIES) -> str:
    cos = _sql_cosine("q.qv", "e.v")
    return f"""
    WITH emb AS ({_SQL_EMB}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < {n_queries}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cosine
      FROM emb e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def sql_ann_ivf_topk(k: int = TOPK, n_queries: int = N_QUERIES) -> str:
    """DuckDB twin of :func:`ann_ivf_topk_df` with the DATA-DERIVED
    codebook replayed in SQL: same md5(vec_id) stratum, same smallest-
    vec_id representative (``arg_min``), scores assembled in stratum
    order. A corpus that leaves a stratum empty raises via ``error()``
    (the Spark face raises the same way — loud, never divergent)."""
    cos = _sql_cosine("q.qv", "c.v")
    return f"""
    WITH raw AS ({_SQL_EMB}),
    cents AS (
      SELECT CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {N_CENTROIDS} AS stratum,
             arg_min(v, vec_id) AS c
      FROM raw GROUP BY 1
    ),
    guard AS (
      SELECT CASE WHEN (SELECT count(*) FROM cents) < {N_CENTROIDS}
                  THEN error('corpus fills only ' ||
                             (SELECT count(*) FROM cents) || '/{N_CENTROIDS}' ||
                             ' centroid strata - too small for IVF')
                  ELSE 1 END AS ok
    ),
    cn AS (
      -- norm * guard.ok (= 1) keeps the guard load-bearing: an unused
      -- 1-row cross join would be pruned and error() never evaluated
      SELECT stratum, c, sqrt({_sql_dot('c', 'c')}) * guard.ok AS norm
      FROM cents, guard
    ),
    cs AS (
      SELECT e.vec_id,
             list(round({_sql_dot('e.v', 'cn.c')} / cn.norm, 6) ORDER BY cn.stratum)
               AS cscores
      FROM raw e CROSS JOIN cn GROUP BY e.vec_id
    ),
    emb AS (SELECT e.vec_id, e.v, cs.cscores FROM raw e JOIN cs USING (vec_id)),
    corpus AS (SELECT vec_id, v, list_position(cscores, list_max(cscores)) AS cell FROM emb),
    qexp AS (
      SELECT e.vec_id AS query_id, e.v AS qv, r.cidx AS cell, e.cscores[r.cidx] AS score
      FROM emb e CROSS JOIN (SELECT unnest(range(1, {N_CENTROIDS + 1})) AS cidx) r
      WHERE e.vec_id < {n_queries}
    ),
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cell) AS rn
        FROM qexp
      ) WHERE rn <= {N_PROBE}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {cos} AS cosine
      FROM corpus c JOIN probes q ON c.cell = q.cell WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def sql_ann_lsh_topk(k: int = TOPK, n_queries: int = N_QUERIES) -> str:
    """DuckDB twin with a RUNTIME plane count (the ``np`` CTE replays
    ``dedup.n_planes_for`` over the scanned corpus, matching the Spark
    face's parquet-footer derivation at any scale), band-OR plane sets +
    per-set query-side 1-bit multi-probe replicated."""
    cos = _sql_cosine("q.qv", "e.v")
    per_set = " UNION ALL ".join(
        f"SELECT vec_id, v, {s} AS set_id, {sql_sign_bucket_dyn('v', 'np.n', s)} AS bucket "
        "FROM emb, np"
        for s in range(N_PLANE_SETS)
    )
    return f"""
    WITH emb AS ({_SQL_EMB}),
    np AS ({sql_n_planes('emb')}),
    bk AS ({per_set}),
    q AS (
      SELECT vec_id AS query_id, v AS qv, set_id,
             CASE WHEN i = 0 THEN bucket ELSE xor(bucket, 1 << (i - 1)) END AS bucket
      FROM bk CROSS JOIN (SELECT unnest(range(0, {MAX_ORACLE_PLANES + 1})) AS i), np
      WHERE i <= np.n AND vec_id < {n_queries}
    ),
    scored AS (
      SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id, {cos} AS cosine
      FROM bk e JOIN q ON e.set_id = q.set_id AND e.bucket = q.bucket
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# ------------------------------------------------------------------ PQ
# Product quantization (asymmetric distance computation): the third ANN
# scale path next to IVF (coarse quantizer) and sign-bucket LSH. Each
# 64-dim vector is split into PQ_M=8 subvectors of 8 dims; each subvector
# is quantized to its nearest of PQ_K=16 sub-codes. A corpus vector is
# then PQ_M small ints + its true norm — at 10^10 vectors the ADC scan
# reads ~9 bytes/vector instead of 256 (64 × float32), a ~28× skinnier
# steady-state read, which is the entire point of PQ at 100 TB.
#
# The sub-codebooks are SLICES of the same deterministic data-derived
# codebook as IVF (:func:`data_centroids`: md5(vec_id) stratum, arg-min
# representative) — RNG-free, so the DuckDB twin replays the identical
# spec end-to-end. Queries score candidates with per-subspace lookup
# tables (PQ_K dots per subspace, computed ONCE per query, independent of
# corpus size) and the top PQ_CANDS by rounded ADC-cosine are re-ranked
# by exact cosine. Recall < 1 by construction, like the IVF/LSH faces.
#
# The reference has no similarity search; this is part of the mandated
# training-data-pipeline surface (brief §similarity), spec'd to the same
# determinism discipline as ann_ivf_topk (similarity.py:340).

PQ_M = 8                    # subspaces
PQ_SUB = EMB_DIM // PQ_M    # dims per subspace
PQ_K = N_CENTROIDS          # sub-codes per subspace (slices of the IVF codebook)
PQ_CANDS = 50               # ADC candidates per query before exact re-rank
#: bump when the PQ encoding derivation changes (invalidates stored tables).
PQ_VERSION = "v1"


def _pq_sub(v, m: int):
    """Subvector m (0-based) of a 64-dim array column: dims [m*8, m*8+8)."""
    from pyspark.sql import functions as F

    return F.slice(v, m * PQ_SUB + 1, PQ_SUB)


#: codebook-literal memo: F.lit(16×64 nested list) walks py4j element by
#: element (~0.8 s per call, measured r7) — build the Column once per
#: codebook object. Keyed by id() with the codebook kept referenced so the
#: id can't be recycled; codebooks themselves are memoized per corpus in
#: _CODEBOOK_CACHE, so this stays a handful of entries.
_CB_LIT_CACHE: dict = {}


def _cb_lit(cents: list[list[float]]):
    from pyspark.sql import functions as F

    hit = _CB_LIT_CACHE.get(id(cents))
    if hit is None or hit[0] is not cents:
        _CB_LIT_CACHE[id(cents)] = hit = (cents, F.lit(cents))
    return hit[1]


def pq_codes_col(v, cents: list[list[float]]):
    """``array<int>`` of PQ_M 1-based sub-code ids for vector column ``v``.

    Sub-code m is the argmin over the PQ_K codebook slices of the rounded
    squared L2 distance, computed as dot(s,s) - 2·dot(s,c) + dot(c,c) in
    BOTH engines (same formula → same ulps feed the same round(·, 6); ties
    break to the smallest code via first-position-of-min, mirroring
    ``list_position``/``array_position``).

    Construction shape matters as much as execution shape here: the
    codebook rides as ONE nested-array literal and the per-subspace
    distance lists as ``transform`` higher-order functions — PQ_M
    expressions total, not PQ_M × PQ_K unrolled dots (the unrolled form
    costs ~5 s of client-side expression building / py4j round trips per
    plan, dwarfing the 0.3 s execution; measured r7)."""
    from pyspark.sql import functions as F

    cb = _cb_lit(cents)

    def dist_fn(s, ss, m):
        # factory: F.transform requires a 1-arg lambda (it inspects the
        # signature), so the loop state binds via closure, not defaults
        def dist(c):
            csub = F.slice(c, m * PQ_SUB + 1, PQ_SUB)
            return F.round(ss - 2.0 * _dot(s, csub) + _dot(csub, csub), 6)

        return dist

    codes = []
    for m in range(PQ_M):
        s = _pq_sub(v, m)
        dists = F.transform(cb, dist_fn(s, _dot(s, s), m))
        codes.append(F.array_position(dists, F.array_min(dists)).cast("int"))
    return F.array(*codes)


def pq_encode(vecs, cents: list[list[float]]):
    """The PQ store row ``(vec_id, v, codes, vnorm)`` over a ``(vec_id,
    v)`` frame — the one encoding behind the code table, the recompute
    face and the streaming code store."""
    from pyspark.sql import functions as F

    return vecs.select(
        "vec_id",
        "v",
        pq_codes_col(F.col("v"), cents).alias("codes"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("vnorm"),
    )


def _pq_encoded(spark, sf_dir: str):
    """The corpus PQ-encoded inline (recompute face)."""
    return pq_encode(_emb_spread(spark, sf_dir), data_centroids(spark, sf_dir))


def pq_code_table(spark, sf_dir: str):
    """The STORED PQ code table ``(vec_id, codes:array<int>, vnorm)`` —
    encoded ONCE at ingest via the catalog (ingest-once family member #5
    after MinHash / SimHash / IVF cells / sign buckets). Deliberately
    does NOT store ``v``: the steady-state ADC scan is the skinny
    (id, 8 codes, norm) projection; full vectors are fetched BY ID only
    for the PQ_CANDS re-rank survivors. Cache key carries the embeddings
    content fingerprint, so a rewritten corpus re-encodes."""
    from ..sources import catalog

    return catalog.cached_table(
        spark,
        f"pq_codes_{catalog.source_key(sf_dir, 'embeddings')}_{PQ_VERSION}",
        lambda: _pq_encoded(spark, sf_dir).drop("v"),
    )


def _pq_topk(spark, sf_dir: str, encoded, k: int, n_queries: int):
    """Shared ADC + re-rank tail for the batch faces: query set = the
    ``vec_id < n_queries`` prefix of the corpus table; re-rank vectors
    fetched from the same table. See :func:`pq_topk_frames`."""
    from pyspark.sql import functions as F

    cents = data_centroids(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < n_queries)
    return pq_topk_frames(spark, encoded, queries, emb, cents, k)


def pq_topk_frames(spark, encoded, queries, fetch, cents, k: int):
    """Frame-parameterized ADC + re-rank core (shared by the batch faces
    and the streaming incremental face).

    ``encoded`` must have (vec_id, codes, vnorm); ``queries`` and
    ``fetch`` must have (vec_id, v). Query side (tiny, broadcast): per
    subspace m a PQ_K-entry LUT of dot(q_sub, code_sub); ADC-cosine of a
    corpus row is Σ_m lut_m[codes[m]] / (qnorm · vnorm), rounded — ZERO
    vector math per (query, corpus) pair, just PQ_M array lookups over
    the skinny scan. Top PQ_CANDS by (adc, id) → fetch full vectors by
    id from ``fetch`` → exact-cosine top-k (:func:`_cosine_topk`)."""
    from pyspark.sql import functions as F

    # the ADC pass is the corpus-proportional stage: if the stored code
    # table was laid down with fewer files than this session has cores
    # (e.g. written by a narrower ingest job), the scan would cap map-side
    # parallelism at the file count — spread it first (measured r7: a
    # 16-file table capped the 32-thread level at 2× instead of 4×). At
    # production scale the ingest writes many well-sized files and this
    # is a no-op.
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if encoded.rdd.getNumPartitions() < shuffle_p:
        encoded = encoded.repartition(shuffle_p)
    cb = _cb_lit(cents)  # one nested-array literal, memoized per codebook
    luts = queries.select(
        F.col("vec_id").alias("query_id"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qnorm"),
        *[
            F.transform(
                cb,
                (lambda m: lambda c: _dot(
                    _pq_sub(F.col("v"), m), F.slice(c, m * PQ_SUB + 1, PQ_SUB)
                ))(m),
            ).alias(f"lut{m}")
            for m in range(PQ_M)
        ],
    )
    adc_sum = None
    for m in range(PQ_M):
        term = F.element_at(F.col(f"lut{m}"), F.element_at(F.col("codes"), m + 1))
        adc_sum = term if adc_sum is None else adc_sum + term
    scored = (
        encoded.crossJoin(F.broadcast(luts))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(adc_sum / (F.col("qnorm") * F.col("vnorm")), 6).alias("adc"),
        )
    )
    cands = _topk_per_query(
        scored, [F.desc("adc"), F.col("neighbor_id")], PQ_CANDS
    ).select("query_id", "neighbor_id")
    # re-rank: full vectors by id for survivors only (queries re-read from
    # the tiny min/max-pruned query scan). The candidate list is ≤
    # n_queries × PQ_CANDS rows — BROADCAST it so the fetch is a
    # streaming hash probe over the (column-pruned) vector scan, never a
    # sort-merge shuffle of the fat corpus (planner stats don't know the
    # window output is tiny until AQE runs; at 10^10 vectors the id list
    # would also push into the source's bloom/zone-map skipping).
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    rer = (
        F.broadcast(cands)
        .join(fetch, cands.neighbor_id == fetch.vec_id)
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", _cosine(F.col("qv"), F.col("v")).alias("cosine"))
    )
    return _cosine_topk(rer, k)


def ann_pq_topk_df(spark, sf_dir: str, k: int = TOPK, n_queries: int = N_QUERIES):
    """PQ/ADC ANN, recompute face: encode inline, then the shared ADC +
    exact re-rank tail (:func:`_pq_topk`)."""
    return _pq_topk(spark, sf_dir, _pq_encoded(spark, sf_dir), k, n_queries)


def ann_pq_topk_stored_df(spark, sf_dir: str, k: int = TOPK, n_queries: int = N_QUERIES):
    """Stored-code face: identical output (same oracle SQL), but the ADC
    pass scans :func:`pq_code_table` — (id, 8 codes, norm), no vectors —
    and full vectors are read only for the re-rank survivors."""
    return _pq_topk(spark, sf_dir, pq_code_table(spark, sf_dir), k, n_queries)


def sql_ann_pq_topk(k: int = TOPK, n_queries: int = N_QUERIES) -> str:
    """DuckDB twin of the PQ faces: same data-derived codebook CTE as the
    IVF twin (md5 stratum, arg_min representative, ``error()`` guard kept
    load-bearing through ``vnorm``), sub-codes via the same rounded
    dot-form L2² argmin (``list_position`` of ``list_min`` = first-min
    tie-break, mirroring ``array_position``), ADC terms written as the
    same left-to-right 8-term sum, exact-cosine re-rank of the top
    PQ_CANDS. Storage topology is invisible: one twin serves both the
    recompute and stored faces."""

    def sub(e: str, m: int) -> str:
        return f"{e}[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"

    code_exprs = []
    for m in range(PQ_M):
        dists = ", ".join(
            f"round({_sql_dot(sub('r.v', m), sub('r.v', m))}"
            f" - 2*{_sql_dot(sub('r.v', m), sub(f'cbn.cb[{j + 1}]', m))}"
            f" + {_sql_dot(sub(f'cbn.cb[{j + 1}]', m), sub(f'cbn.cb[{j + 1}]', m))}, 6)"
            for j in range(PQ_K)
        )
        code_exprs.append(f"list_position([{dists}], list_min([{dists}]))")
    codes_list = ", ".join(code_exprs)
    adc_terms = " + ".join(
        f"{_sql_dot(sub('q.qv', m), sub(f'cbn.cb[c.codes[{m + 1}]]', m))}"
        for m in range(PQ_M)
    )
    cos = _sql_cosine("q.qv", "e.v")
    return f"""
    WITH raw AS ({_SQL_EMB}),
    cents AS (
      SELECT CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {N_CENTROIDS} AS stratum,
             arg_min(v, vec_id) AS c
      FROM raw GROUP BY 1
    ),
    guard AS (
      SELECT CASE WHEN (SELECT count(*) FROM cents) < {N_CENTROIDS}
                  THEN error('corpus fills only ' ||
                             (SELECT count(*) FROM cents) || '/{N_CENTROIDS}' ||
                             ' centroid strata - too small for IVF')
                  ELSE 1 END AS ok
    ),
    cbn AS (
      -- ok (= 1) rides into vnorm so the guard can't be pruned away
      SELECT list(c ORDER BY stratum) AS cb, any_value(guard.ok) AS ok
      FROM cents, guard
    ),
    codes AS (
      SELECT r.vec_id, [{codes_list}] AS codes,
             sqrt({_sql_dot('r.v', 'r.v')}) * cbn.ok AS vnorm
      FROM raw r, cbn
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv, sqrt({_sql_dot('v', 'v')}) AS qnorm
      FROM raw WHERE vec_id < {n_queries}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(({adc_terms}) / (q.qnorm * c.vnorm), 6) AS adc
      FROM codes c CROSS JOIN q, cbn WHERE c.vec_id <> q.query_id
    ),
    cands AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= {PQ_CANDS}
    ),
    rer AS (
      SELECT ca.query_id, ca.neighbor_id, {cos} AS cosine
      FROM cands ca JOIN raw e ON e.vec_id = ca.neighbor_id
                    JOIN q ON q.query_id = ca.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer
    ) WHERE rank <= {k}
    """


#: resumable_pq_screen bucket sizing (ADVICE r7): each bucket's queries
#: ride into pq_topk_frames as a BROADCAST (per-query LUT frame + the qv
#: fetch), so queries-per-bucket must stay bounded as the corpus grows —
#: a fixed default n_buckets would make broadcast size linear in corpus.
PQ_SCREEN_QUERIES_PER_BUCKET = 4096


def pq_screen_buckets_for(n_vectors: int, floor: int = 8) -> int:
    """Bucket count for the full-corpus screen: enough buckets that each
    holds ≲ :data:`PQ_SCREEN_QUERIES_PER_BUCKET` queries, never fewer
    than ``floor`` (resume granularity)."""
    import math

    return max(floor, math.ceil(n_vectors / PQ_SCREEN_QUERIES_PER_BUCKET))


def resumable_pq_screen(
    spark, sf_dir: str, out_dir: str, n_buckets: int | None = None, k: int = TOPK,
    fail_after=None,
):
    """Full-corpus PQ self-screen, resumable by QUERY bucket — the ops
    story behind "re-screen everything we ever ingested": every corpus
    vector is a query, answered with its exact-cosine top-``k`` over the
    stored code table, and the job composes :func:`~..streaming.resume.
    run_resumable`'s bucket manifest with :func:`pq_topk_frames` (the
    r6 stretch pattern — resumable pair generation — applied to ANN).

    A killed run resumes at the bucket boundary: completed buckets are
    skipped (their row counts ride the resume manifest), and each
    bucket's per-query cost is the same pruned ADC scan as the batch
    face — at 10^10 vectors this is the only sane shape for an
    all-corpus screen, since no single job survives that wall-clock.
    Returns the number of buckets processed this run."""
    from pyspark.sql import functions as F

    from ..sources.catalog import parquet_row_count
    from ..streaming.resume import run_resumable

    if n_buckets is None:
        # derive from corpus size so each bucket's broadcast query frame
        # stays bounded (ADVICE r7); explicit n_buckets still honored for
        # tests / callers that pin resume granularity
        n_buckets = pq_screen_buckets_for(
            parquet_row_count(f"{sf_dir}/embeddings.parquet")
        )
    cents = data_centroids(spark, sf_dir)
    encoded = pq_code_table(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    # run_resumable's ad-hoc hash bucketing keys on doc_id
    queries_all = emb.select(F.col("vec_id").alias("doc_id"), "v")

    def process_fn(sess, subset):
        q = subset.select(F.col("doc_id").alias("vec_id"), "v")
        return pq_topk_frames(sess, encoded, q, emb, cents, k)

    return run_resumable(
        spark, queries_all, process_fn, out_dir, n_buckets=n_buckets, fail_after=fail_after
    )
