# -*- coding: utf-8 -*-
"""Deduplication suite over the ``documents`` table (training-data ops).

Scale shapes:
  * exact dedup — one shuffle on the 16-byte fingerprint (hash groupBy);
    at 10^12 docs this is the classic map-side-combine count;
  * MinHash+LSH — signatures are per-row native expressions (no shuffle);
    banding explodes ``n_bands`` rows per doc carrying the shingle array,
    candidate pairs come from ONE self-equi-join on the band key (the
    exchange is built once and reused for both sides — scan-once), and
    exact Jaccard is verified inline from the carried shingles. Band
    buckets are ~uniform by construction; AQE skew-join covers hot bands.
  * SimHash — 64-bit signature as one per-row native fold (per-bit
    majority over md5 word hashes); near-dup lookup = hamming ≤ r probing
    ALL four 16-bit bands (banded equi-join, never all-pairs). With
    r = 3 < 4 bands, the pigeonhole principle guarantees any qualifying
    pair agrees on at least one full band — recall is EXACT, at a fixed
    4× explode over the single-prefix probe. Both faces have DuckDB
    twins (md5 hex-slice arithmetic + per-bit majority in SQL).
  * n-gram Jaccard — exact word-3-gram Jaccard over the SAME MinHash-LSH
    candidate generator (band-bucket equi-join), with its own looser
    exact-score threshold. Never quadratic: the pair space is bounded by
    band-bucket collisions, not by document count.
  * embedding near-dups — deterministic random-hyperplane sign buckets
    block the corpus; exact cosine inside the bucket. The plane count is
    DERIVED from the corpus size (planes ≈ log2(n / target bucket size),
    :func:`n_planes_for`, read from parquet FOOTER stats — zero sizing
    jobs) so bucket occupancy stays bounded as the corpus scales.
    Recall is amplified band-OR style: candidates are unioned across
    :data:`similarity.N_PLANE_SETS` independent plane sets, each 1-bit
    multi-probed — a pair is missed only if EVERY set splits it by ≥ 2
    planes (per-set miss probabilities multiply); the oracle replays
    the identical spec.

Tokenizer spec (shared cross-engine contract): words/shingles split on
the explicit ASCII-whitespace class :data:`WS_SPLIT_RE` in BOTH engines
(Java regex and RE2 interpret it identically) — never
``\\s``/``str.split()``, whose whitespace classes differ per engine.

The driver corpus has no natural duplicates, so the dedup queries run
over :func:`with_near_dups_df` — the corpus unioned with deterministic
mutated/exact copies (same derivation in both engines), which gives the
operators live positives at every scale. Embeddings likewise get
perturbed copies via :func:`with_emb_dups_df`.
"""

from __future__ import annotations

N_HASHES = 8
N_BANDS = 4  # rows per band = N_HASHES // N_BANDS = 2
JACCARD_THRESHOLD = 0.5
NGRAM_JACCARD_THRESHOLD = 0.3
SIMHASH_BAND_BITS = 16
N_SIMHASH_BANDS = 64 // SIMHASH_BAND_BITS  # 4 bands; r < bands ⇒ exact recall
SIMHASH_HAMMING_R = 3
COSINE_DUP_THRESHOLD = 0.9

#: ASCII-whitespace tokenizer class — the ONE split spec both engines use.
#: Java regex, RE2 and Python ``re`` all read these escapes identically;
#: ``\s``/``str.split()`` would not (Java adds
#: \x0B, RE2 lacks it, Python splits on all of Unicode). Canonically
#: defined in :mod:`..functions.text` (ADVICE r4) and re-exported here.
from ..functions.text import WS_SPLIT_RE  # noqa: E402

#: target vectors per LSH sign-bucket — the knob :func:`n_planes_for`
#: derives the hyperplane count from.
TARGET_BUCKET_SIZE = 32

#: planted-dup corpus derivation constants (:func:`with_planted_copies` and
#: its SQL twin read these — one definition, two engines).
EXACT_COPY_MOD = 7
EXACT_COPY_OFFSET = 1_000_000
MUTATED_COPY_MOD = 10
MUTATED_COPY_OFFSET = 2_000_000
MUTATION_SUFFIX = " zz_mutation"
SHINGLE_WIDTH = 3


def _derivation_tag(*parts) -> str:
    import hashlib

    return hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:8]


#: content tag folded into every stored-signature cache key (ADVICE r6):
#: the corpus-mutation constants and the shingle/tokenizer spec are PART
#: of the key, so editing any of them invalidates on-disk tables without
#: a manual version bump. SIG_VERSION / SIMHASH_SIG_VERSION remain for
#: derivation changes these constants cannot see (e.g. the md5-slice
#: layout inside :func:`_shingled_sig_from`) — bump them for those.
CORPUS_TAG = _derivation_tag(
    EXACT_COPY_MOD,
    EXACT_COPY_OFFSET,
    MUTATED_COPY_MOD,
    MUTATED_COPY_OFFSET,
    MUTATION_SUFFIX,
    SHINGLE_WIDTH,
    WS_SPLIT_RE,
    N_HASHES,
    N_BANDS,
)

def n_planes_for(n_vectors: int) -> int:
    """Hyperplane count for ~:data:`TARGET_BUCKET_SIZE` vectors/bucket:
    ``ceil(log2(n / target))``. At 10^10 vectors this yields ~28 planes —
    bucket occupancy stays bounded instead of degenerating quadratic as a
    fixed plane count would. (At scale ``n`` comes from table stats —
    Iceberg snapshot row counts — not a scan.)"""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_vectors / TARGET_BUCKET_SIZE))))


# ----------------------------------------------------------- corpus prep
def with_planted_copies(docs):
    """``docs`` ∪ exact copies (doc_id%7==0) ∪ mutated copies
    (doc_id%10==0, one token appended) of a (doc_id, text) frame. Copy
    ids are offset by 10^6/2·10^6."""
    from pyspark.sql import functions as F

    exact = (
        docs.filter(F.col("doc_id") % EXACT_COPY_MOD == 0)
        .select((F.col("doc_id") + EXACT_COPY_OFFSET).alias("doc_id"), "text")
    )
    mutated = (
        docs.filter(F.col("doc_id") % MUTATED_COPY_MOD == 0)
        .select(
            (F.col("doc_id") + MUTATED_COPY_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(MUTATION_SUFFIX)).alias("text"),
        )
    )
    return docs.unionByName(exact).unionByName(mutated)


def with_near_dups_df(spark, sf_dir: str):
    """documents (spread by :func:`..operators.corpus._docs_spread`, so
    the md5/shingle work above it runs on every core) with the planted
    copies of :func:`with_planted_copies`."""
    from .corpus import _docs_spread

    return with_planted_copies(_docs_spread(spark, sf_dir))


def sql_planted_copies(src: str) -> str:
    """SQL twin of :func:`with_planted_copies` over the relation ``src``."""
    return (
        f"SELECT doc_id, text FROM {src} "
        f"UNION ALL SELECT doc_id + {EXACT_COPY_OFFSET} AS doc_id, text "
        f"FROM {src} WHERE doc_id % {EXACT_COPY_MOD} = 0 "
        f"UNION ALL SELECT doc_id + {MUTATED_COPY_OFFSET} AS doc_id, "
        f"text || '{MUTATION_SUFFIX}' AS text "
        f"FROM {src} WHERE doc_id % {MUTATED_COPY_MOD} = 0"
    )


def sql_with_near_dups() -> str:
    return sql_planted_copies("documents")


# ------------------------------------------------------------ exact dedup
def dedup_exact_df(spark, sf_dir: str):
    """(doc_id, canonical_id, is_dup): canonical = min doc_id per
    fingerprint group. One shuffle on the fingerprint."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.text import fingerprint_col

    docs = with_near_dups_df(spark, sf_dir)
    fp = docs.select("doc_id", fingerprint_col(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


def sql_dedup_exact() -> str:
    from ..functions.text import sql_fingerprint

    return (
        f"WITH d AS ({sql_with_near_dups()}), "
        f"fp AS (SELECT doc_id, {sql_fingerprint('text')} AS fp FROM d) "
        f"SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS canonical_id, "
        f"doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup FROM fp"
    )


# ------------------------------------------------------------ minhash LSH
def words_col(text_col):
    """The shared tokenizer split as a column (WS_SPLIT_RE contract)."""
    from pyspark.sql import functions as F

    return F.split(F.trim(text_col), WS_SPLIT_RE)


def _shingles_from_words(words):
    """Distinct word-3-gram shingles from a MATERIALIZED words column.

    ``words`` must be a bound attribute (its own projection), not the
    inline ``split(...)`` expression: higher-order lambdas run
    interpreted (no codegen, no common-subexpression elimination), so an
    inline split child is RE-EVALUATED by every ``element_at`` — 3 per
    shingle × ~22 shingles ≈ 66 regex splits per doc. Binding the array
    first measured ~12× faster on a 200k-doc corpus (r5)."""
    from pyspark.sql import functions as F

    n = F.size(words)
    return F.array_distinct(
        F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(words, i), F.element_at(words, i + 1), F.element_at(words, i + 2)
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))
    )


def _sql_shingles(text: str) -> str:
    words = f"regexp_split_to_array(trim({text}), '{WS_SPLIT_RE}')"
    return (
        f"list_distinct(CASE WHEN len({words}) >= 3 THEN "
        f"[{words}[i] || ' ' || {words}[i+1] || ' ' || {words}[i+2] "
        f"FOR i IN range(1, len({words}) - 1)] "
        f"ELSE [array_to_string({words}, ' ')] END)"
    )


def _shingled_sig_from(texts):
    """(doc_id, shingles_h, sig_0..sig_7) from any (doc_id, text) frame:
    ONE shingle derivation feeding both the signatures and (via the
    carried 60-bit hash array) Jaccard verification.

    Cost discipline: md5 is the expensive op, so each shingle gets TWO
    md5s (``md5(s)``, ``md5(s || '#')``) and the 8 "permutations" are the
    8 non-overlapping 32-bit (8-hex-char) slices -- fixed-width lowercase
    hex compares lexicographically == numerically, so string ``min`` is a
    valid min-hash. 4x cheaper than 8 independent md5 passes.

    ``shingles_h`` is the first 60 bits of each shingle's md5 as int64 —
    exact-Jaccard verification runs on the hashed sets (collision odds
    ~2^-60 per pair element, and BOTH engines replay the same spec), and
    the band-join shuffle carries 8-byte longs instead of trigram
    strings (~2.3x lighter payload, integer set intersection).

    NB (transform lambdas): one arg only -- a second parameter would
    receive the element *index*.
    """
    from pyspark.sql import functions as F

    sh = texts.select("doc_id", words_col(F.col("text")).alias("w"))
    sh = sh.select("doc_id", _shingles_from_words(F.col("w")).alias("shingles"))
    sh = sh.select(
        "doc_id",
        F.transform(F.col("shingles"), lambda s: F.md5(s)).alias("h1"),
        F.transform(F.col("shingles"), lambda s: F.md5(F.concat(s, F.lit("#")))).alias("h2"),
    )

    def _sig(i):
        src = F.col("h1") if i < 4 else F.col("h2")
        off = (i % 4) * 8 + 1
        return F.array_min(F.transform(src, lambda h: F.substring(h, off, 8))).alias(f"sig_{i}")

    shingles_h = F.transform(
        F.col("h1"), lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    )
    return sh.select(
        "doc_id", shingles_h.alias("shingles_h"), *[_sig(i) for i in range(N_HASHES)]
    )


def minhash_signatures_df(spark, sf_dir: str):
    """(doc_id, sig_0..sig_7): min-hash signatures (see _shingled_sig_from)."""
    return _shingled_sig_from(with_near_dups_df(spark, sf_dir)).drop("shingles_h")


def sql_minhash_signatures(corpus_sql: str | None = None) -> str:
    """Twin of :func:`minhash_signatures_df`; ``corpus_sql`` overrides the
    default planted-dup corpus with any (doc_id, text) SELECT (used by the
    shard pipeline to dedup its own redacted corpus)."""
    sh = _sql_shingles("text")
    sigs = []
    for i in range(N_HASHES):
        src = "h1" if i < 4 else "h2"
        off = (i % 4) * 8 + 1
        sigs.append(f"list_min([substring(h, {off}, 8) FOR h IN {src}]) AS sig_{i}")
    return (
        f"WITH d AS ({corpus_sql or sql_with_near_dups()}), "
        f"sh0 AS (SELECT doc_id, {sh} AS shingles FROM d), "
        f"sh AS (SELECT doc_id, [md5(s) FOR s IN shingles] AS h1, "
        f"[md5(s || '#') FOR s IN shingles] AS h2 FROM sh0) "
        f"SELECT doc_id, {', '.join(sigs)} FROM sh"
    )


def _band_keys_col():
    from pyspark.sql import functions as F

    rows_per_band = N_HASHES // N_BANDS
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(N_BANDS)
        ]
    )


def banded_sig_col(sig):
    """(doc_id, shingles_h, band_key) from a signature frame carrying
    ``sig_0..sig_{N_HASHES-1}`` and ``shingles_h`` — works identically
    over a freshly computed frame and a STORED signature table scan."""
    from pyspark.sql import functions as F

    return sig.select(
        "doc_id", "shingles_h", F.explode(_band_keys_col()).alias("band_key")
    )


def verified_pairs_from_banded(banded, threshold: float):
    """Band-bucket self-equi-join + inline exact hashed-shingle Jaccard
    over one ``(doc_id, shingles_h, band_key)`` frame — the one-pass
    pairing of the recompute face (:func:`lsh_verified_pairs_from`). The
    stored-table and streaming faces pair through
    :func:`verified_pairs_skinny_fetch` instead."""
    from pyspark.sql import functions as F

    left = banded.select(
        "band_key", F.col("doc_id").alias("doc_id_a"), F.col("shingles_h").alias("sh_a")
    )
    # SHUFFLE_HASH: sort-merge on the band key sorts tens of millions of
    # fat rows (12-long shingle array each) per side — measured at 8 M
    # docs / 16 cores the sort GC-stalls and the join runs 3.7× slower
    # than hash (89.5 s → 24.5 s, scripts/scaling.py stored_pairs).
    # A per-partition hash build over the band buckets never sorts. Note
    # (ADVICE r6): AQE replanning HONORS explicit strategy hints, so this
    # join stays shuffle-hash even when one side would fit the broadcast
    # threshold — acceptable here because a shuffle-hash over a tiny side
    # is already cheap, and the hint's win at scale is what matters.
    right = banded.select(
        "band_key", F.col("doc_id").alias("doc_id_b"), F.col("shingles_h").alias("sh_b")
    ).hint("SHUFFLE_HASH")
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        6,
    )
    return (
        left.join(right, "band_key")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def lsh_verified_pairs_from(texts, threshold: float = JACCARD_THRESHOLD):
    """LSH candidates (band-bucket self-equi-join) verified by exact
    word-3-gram Jaccard, carried inline, over any (doc_id, text) frame.

    Plan shape: one shuffle of (doc_id, shingles, band_key) on the band
    key, then a small distinct over the surviving pairs. When AQE picks
    a broadcast for the self-join there is no common shuffle node, so
    the banded signature subtree executes once per side — MEASURED
    cheaper at bench scales than materializing it first (r5: a lazy
    ``localCheckpoint`` made the query 4× slower — the checkpoint job
    serializes the fat shingle arrays and the ``ExistingRDD`` rescan
    loses AQE stats). At 100 TB the signature table is WRITTEN once and
    pair generation reads the stored table — that topology is
    :func:`lsh_pairs_from_stored` over :func:`minhash_sig_table` (r6),
    oracle-gated and benched against this recompute face.
    Output (doc_id_a, doc_id_b, jaccard) with jaccard ≥ threshold.
    """
    return verified_pairs_from_banded(
        banded_sig_col(_shingled_sig_from(texts)), threshold
    )


def _sql_lsh_verified_pairs(threshold: float, corpus_sql: str | None = None) -> str:
    rows_per_band = N_HASHES // N_BANDS
    band_cols = ", ".join(
        "md5('{b}' || '|' || ".format(b=b)
        + " || '|' || ".join(f"sig_{b * rows_per_band + r}" for r in range(rows_per_band))
        + f") AS band_{b}"
        for b in range(N_BANDS)
    )
    band_list = ", ".join(f"band_{b}" for b in range(N_BANDS))
    sh = _sql_shingles("text")
    jac = (
        "round(CAST(len(list_intersect(a.shingles_h, b.shingles_h)) AS DOUBLE) "
        "/ len(list_distinct(list_concat(a.shingles_h, b.shingles_h))), 6)"
    )
    return f"""
    WITH sig AS ({sql_minhash_signatures(corpus_sql)}),
    d AS ({corpus_sql or sql_with_near_dups()}),
    shd AS (SELECT doc_id,
            [CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) FOR s IN {sh}]
            AS shingles_h FROM d),
    banded AS (
      SELECT s.doc_id, shd.shingles_h, unnest([{band_list}]) AS band_key
      FROM (SELECT doc_id, {band_cols} FROM sig) s JOIN shd ON shd.doc_id = s.doc_id
    )
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, {jac} AS jaccard
    FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    WHERE {jac} >= {threshold}
    """


def minhash_lsh_pairs_df(spark, sf_dir: str):
    """MinHash-LSH near-dup pairs at the MinHash design threshold."""
    return lsh_verified_pairs_from(with_near_dups_df(spark, sf_dir), JACCARD_THRESHOLD)


def sql_minhash_lsh_pairs() -> str:
    return _sql_lsh_verified_pairs(JACCARD_THRESHOLD)


#: bump when the signature derivation changes (invalidates stored tables).
SIG_VERSION = "v1"


def minhash_sig_key(sf_dir: str) -> str:
    """Cache key of the stored MinHash signature table for ``sf_dir`` —
    one definition, shared by the builder and any script that needs the
    on-disk path (e.g. the 100×-proxy stream seed)."""
    from ..sources import catalog

    return f"minhash_sigs_{catalog.source_key(sf_dir, 'documents')}_{SIG_VERSION}_{CORPUS_TAG}"


def minhash_sig_table(spark, sf_dir: str):
    """The STORED MinHash signature table ``(doc_id, shingles_h,
    sig_0..sig_7)`` — signatures computed once at ingest, written via
    :func:`..sources.catalog.write_table` (Iceberg when jars are present,
    parquet fallback), and every consumer scans the stored table.

    This is the actual 100 TB dedup topology (VERDICT r5 item 3): at
    10^12 docs you never recompute md5-shingles per consumer — ingest
    writes the signature table alongside the corpus, and pair generation,
    incremental (streaming) dedup, and component building all read it.
    At bench scale the recompute face (:func:`lsh_verified_pairs_from`)
    is faster end-to-end when cold (one job, no write), which is why both
    faces exist and are benched against each other (``bench.py``
    ``minhash_pairs_stored`` vs ``minhash_lsh_pairs``).
    """
    from ..sources import catalog

    return catalog.cached_table(
        spark,
        minhash_sig_key(sf_dir),
        lambda: _shingled_sig_from(with_near_dups_df(spark, sf_dir)),
    )


def verified_pairs_skinny_fetch(
    sig, threshold: float, sig_b=None, any_order: bool = False, broadcast_b: bool = False
):
    """Candidate generation with a SKINNY band shuffle (r6): the band
    self-join carries only (band_key, doc_id) — 16 bytes/row — and the
    fat hashed-shingle sets are fetched BY doc_id for the few surviving
    candidate pairs, via two equi-joins against the signature frame.

    Why: the one-pass form (:func:`verified_pairs_from_banded`) shuffles
    the 12-long shingle array through the band explode on BOTH sides —
    4× the rows × ~10× the bytes. Measured at 8 M docs / 16 cores the
    fat sort-merge GC-stalls (negative thread scaling); the skinny join
    shuffles ~0.5 GB instead of ~5 GB and the shingle payload moves only
    2 × n_docs rows (the doc_id fetch joins), restoring scaling. The
    tradeoff is re-reading the signature frame three times — free for a
    STORED table scan (column pruning gives each read only the columns
    it needs), expensive for an inline recompute subtree, which is why
    the recompute face keeps the one-pass form.

    ``any_order=False`` (default) keeps pairs whose SMALLER id is on the
    a-side (``doc_id_a < doc_id_b``) — correct for the self-join and for
    two-sided calls whose b-side is guaranteed to hold the larger member.
    ``any_order=True`` accepts a match in EITHER orientation and
    canonicalizes to ``(min, max)`` — what the incremental streaming face
    needs, where a pair's smaller member may be the one that arrives last
    (``..streaming.stream.stream_near_dup_pairs_incremental``).

    ``broadcast_b=True`` (r8, VERDICT r7 item 1): for two-sided calls
    whose b-side is a MICRO-BATCH (tiny by construction), broadcast the
    arrivals' exploded band keys and stream the a-side (the full
    signature store) through a BroadcastHashJoin probe — the store is
    scanned (column-pruned to 16 B/row) but never SHUFFLED, so per-batch
    cost drops from O(|store| shuffle) to O(|store| scan). The surviving
    candidate set (small) is likewise broadcast into the two shingle
    fetch joins, so the store-side fetches are streaming hash probes
    too: the whole micro-batch pass is exchange-free on the store side
    (plan-asserted in tests). The default SHUFFLE_HASH path is unchanged
    for the batch/self-join faces, where both sides are
    corpus-proportional and a broadcast would not fit.

    Same output contract: (doc_id_a, doc_id_b, jaccard ≥ threshold)."""
    from pyspark.sql import functions as F

    right_sig = sig_b if sig_b is not None else sig
    a_band = sig.select(
        F.col("doc_id").alias("doc_id_a"), F.explode(_band_keys_col()).alias("band_key")
    )
    b_band = right_sig.select(
        F.col("doc_id").alias("doc_id_b"), F.explode(_band_keys_col()).alias("band_key")
    )
    if broadcast_b:
        raw = a_band.join(F.broadcast(b_band), "band_key")
    else:
        raw = a_band.join(b_band.hint("SHUFFLE_HASH"), "band_key")
    if any_order:
        oriented = raw.filter(F.col("doc_id_a") != F.col("doc_id_b")).select(
            F.least("doc_id_a", "doc_id_b").alias("doc_id_a"),
            F.greatest("doc_id_a", "doc_id_b").alias("doc_id_b"),
        )
    else:
        oriented = raw.filter(F.col("doc_id_a") < F.col("doc_id_b")).select(
            "doc_id_a", "doc_id_b"
        )
    cand = oriented.distinct()
    if broadcast_b:
        cand = F.broadcast(cand)
    sh_a = sig.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles_h").alias("sh_a"))
    # after any_order canonicalization either member may be a doc that is
    # only in the a-side frame, so the b-fetch must also hit the full frame
    sh_b = (sig if any_order else right_sig).select(
        F.col("doc_id").alias("doc_id_b"), F.col("shingles_h").alias("sh_b")
    )
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        6,
    )
    return (
        cand.join(sh_a, "doc_id_a")
        .join(sh_b, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_pairs_from_stored(spark, sf_dir: str, threshold: float = JACCARD_THRESHOLD):
    """Near-dup pairs generated FROM the stored signature table: skinny
    band-key shuffle over (band_key, doc_id), then shingle-set fetch +
    exact Jaccard for the surviving candidates only (see
    :func:`verified_pairs_skinny_fetch`). No text column is touched —
    the verified pair set is byte-identical to the recompute face (same
    oracle SQL)."""
    return verified_pairs_skinny_fetch(minhash_sig_table(spark, sf_dir), threshold)


def resumable_lsh_pairs(
    spark,
    sf_dir: str,
    out_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    n_buckets: int = 8,
    fail_after: int | None = None,
):
    """RESUMABLE near-dup pair generation (VERDICT r6 item 8): the
    bucket-manifest resume machinery (:func:`..streaming.resume.
    run_resumable`) composed with the stored-signature-table pair join.

    The pair space is partitioned by the hash bucket of the LARGER
    member: each bucket job runs the skinny-fetch band join with a-side =
    the full stored table and b-side = that bucket's signatures, and the
    ``doc_id_a < doc_id_b`` filter means pair (a, b) is produced by
    exactly ONE bucket — bucket(b). The union over buckets is the full
    verified pair set with no duplicates, so a killed 10^12-doc pair job
    resumes from the manifest: completed buckets are skipped, each
    bucket's output is an idempotent overwrite, and per-bucket row counts
    ride the write's Observation into the manifest (lineage + metrics).

    Returns the number of buckets processed this run; read the final pair
    set with :func:`..streaming.resume.read_result`."""
    from ..streaming import resume

    sig = minhash_sig_table(spark, sf_dir)

    def pairs_fn(spark_, subset):
        return verified_pairs_skinny_fetch(sig, threshold, sig_b=subset)

    return resume.run_resumable(
        spark, sig, pairs_fn, out_dir, n_buckets=n_buckets, fail_after=fail_after
    )


def minhash_lsh_pairs_stored_df(spark, sf_dir: str):
    """Stored-signature-table face of :func:`minhash_lsh_pairs_df` —
    identical output, different topology (scan of the materialized
    signature table instead of recomputing signatures from text)."""
    return lsh_pairs_from_stored(spark, sf_dir, JACCARD_THRESHOLD)


def ngram_jaccard_pairs_df(spark, sf_dir: str):
    """Exact word-3-gram Jaccard over the MinHash-LSH candidate set with
    a looser exact-score threshold — the exact-verification face of the
    same candidate generator (band-bucket equi-join, never all-pairs)."""
    return lsh_verified_pairs_from(
        with_near_dups_df(spark, sf_dir), NGRAM_JACCARD_THRESHOLD
    )


def sql_ngram_jaccard_pairs() -> str:
    return _sql_lsh_verified_pairs(NGRAM_JACCARD_THRESHOLD)


# --------------------------------------------------------------- simhash
def simhash_sig_from(texts):
    """(doc_id, simhash) from any (doc_id, text) frame, as per-row native
    expressions like :func:`_shingled_sig_from`.

    Spec (replayed bit-exactly by :func:`sql_simhash`): per doc, the
    DISTINCT :data:`WS_SPLIT_RE` words each hash to the first 8 bytes of
    ``md5(word)``, read as a big-endian int64; bit b of the signature is
    set iff strictly more than half the distinct words have bit b set.
    Wordless docs hash to 0.

    The vote is ONE SQL fold over the 64 bit positions, each counting its
    bit over the word hashes ``h`` (at sf0.1 on 4 cores, 64 per-bit
    columns took ~0.42 s to build and ~1.1 s of jobs, against ~0.33 s and
    ~0.8 s). ``h`` must stay referenced twice in it (``aggregate`` and
    ``size``): Catalyst inlines a projection referenced once, which would
    re-run the md5s per bit (the edge-case test checks the optimized plan).
    """
    from pyspark.sql import functions as F

    words = F.array_distinct(F.filter(words_col(F.col("text")), lambda w: w != ""))
    h = texts.select("doc_id", F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 16), 16, -10).cast("long")).alias("h"))
    ones = "aggregate(h, 0, (a, x) -> a + CAST((x >> b) & 1 AS INT))"
    return h.selectExpr("doc_id", "aggregate(sequence(0, 63), 0L, (s, b) -> "
                        f"s | IF(2 * {ones} > size(h), shiftleft(1L, b), 0L)) AS simhash")


def simhash_df(spark, sf_dir: str):
    """SimHash per doc of the planted-dup corpus (:func:`simhash_sig_from`)."""
    return simhash_sig_from(with_near_dups_df(spark, sf_dir))


def sql_simhash() -> str:
    """DuckDB twin: per-word uint64 from the md5 hex prefix, per-bit
    majority vote, bit 63 folded in as int64 min (two's-complement)."""
    counts = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE 0 END) AS c{b}" for b in range(64)
    )
    low_bits = " + ".join(f"(CASE WHEN 2 * c{b} > n THEN {1 << b} ELSE 0 END)" for b in range(63))
    return f"""
    WITH d AS ({sql_with_near_dups()}),
    w AS (
      SELECT doc_id, CAST(concat('0x', substring(md5(word), 1, 16)) AS UBIGINT) AS h
      FROM (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '{WS_SPLIT_RE}'))) AS word FROM d)
      WHERE word <> ''
    ),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, {counts} FROM w GROUP BY doc_id),
    sig AS (
      SELECT doc_id,
             CAST({low_bits} AS BIGINT)
             + (CASE WHEN 2 * c63 > n THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END) AS simhash
      FROM agg
    )
    SELECT d.doc_id, coalesce(sig.simhash, 0) AS simhash
    FROM d LEFT JOIN sig ON sig.doc_id = d.doc_id
    """


def simhash_near_dup_pairs_from(sig):
    """All pairs with hamming ≤ :data:`SIMHASH_HAMMING_R` from a
    ``(doc_id, simhash)`` frame, probing ALL four 16-bit bands.

    EXACT recall by pigeonhole: a pair within hamming ≤ 3 has its ≤ 3
    differing bits in at most 3 of the 4 bands, so at least one band is
    bit-identical and the pair collides there.

    r8 topology (guide §2.3/§2.5 — shuffle fewer bytes, collapse hot
    keys): hamming is a function of the SIGNATURES alone, so the band
    self-join runs at DISTINCT-signature granularity. Docs are first
    grouped by simhash (one exchange; each group carries its doc_id
    list), the 4-band equi-join + hamming filter runs over unique
    signatures, and doc pairs are expanded afterwards:

      * cross pairs — one sig pair (s_a < s_b, ham ≤ r) × ids_a × ids_b,
        canonicalized to (least, greatest);
      * within pairs — identical-signature clusters join the SAME
        expansion as self sig pairs (s, s, ham = 0) with an
        ``id_a < id_b`` gate (one pipeline, no separate union branch).

    Every doc has exactly one signature, so a doc pair maps to exactly
    one unordered sig pair (or one cluster) — the expansion introduces
    no duplicates and equals the doc-level distinct join row-for-row.
    Why it matters: natural text clusters on identical signatures, so
    doc-level band buckets go quadratic in cluster size (measured sf1.0:
    62k docs / 37k distinct sigs, hottest (band, bucket) held 19,264
    DOCS but only 4,208 sigs — ~703M doc-level candidate pairs vs ~61M
    sig-level, 11×; the old shape benched 7.1 s, this one ~2 s). A pair
    agreeing on several bands is deduped by the sig-pair ``distinct``
    (tiny: pairs surviving the hamming filter)."""
    from pyspark.sql import functions as F

    n_parts = int(sig.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # explicit spread: the grouped frame is tiny in BYTES (16 B + ids per
    # sig), so AQE coalesces its exchange to ~1 partition — and then the
    # band-join PROBE side (60M+ candidate evals at sf1.0) and the pair
    # expansion would run nearly single-threaded. An explicit repartition
    # is exempt from AQE coalescing and pins full task parallelism; the
    # exchange itself moves ~16 B/doc.
    # One aggregation pass, shared by all five consumers: collect_list is
    # non-deterministic, which BLOCKS exchange reuse — without the plan
    # cut the scan+agg subtree (and the signature pass above it on the
    # recompute face) re-executes once per consumer (measured: 3 × 27-task
    # jobs at sf0.1). The frame is 16 B + ids per distinct sig, so the
    # lazy localCheckpoint is ~free and per-plan (nothing crosses runs).
    # Keyless repartition first: a simhash-keyed one would collapse into
    # the agg exchange and AQE-coalesce to ~1 partition, serializing the
    # 60M-candidate band-join probe (measured: 2.4 s → 12.7 s).
    groups = (
        sig.groupBy("simhash")
        .agg(F.collect_list("doc_id").alias("ids"))
        .repartition(n_parts)
        .localCheckpoint(eager=False)
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.shiftright("simhash", 64 - SIMHASH_BAND_BITS * (i + 1)).bitwiseAND(F.lit(mask))
            for i in range(N_SIMHASH_BANDS)
        ]
    )
    b = groups.select("simhash", F.posexplode(bands).alias("band", "bucket"))
    left = b.select("band", "bucket", F.col("simhash").alias("s_a"))
    right = b.select("band", "bucket", F.col("simhash").alias("s_b"))
    ham = F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b")))
    cross_pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("s_a") < F.col("s_b"))
        .select("s_a", "s_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_R)
        .distinct()
    )
    # identical-signature clusters enter the same expansion as self pairs
    self_pairs = groups.filter(F.size("ids") > 1).select(
        F.col("simhash").alias("s_a"),
        F.col("simhash").alias("s_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    sig_pairs = (
        cross_pairs.unionByName(self_pairs)
        .repartition(n_parts)  # same AQE-coalesce guard for the expansion probe
    )
    ga = groups.select(F.col("simhash").alias("s_a"), F.col("ids").alias("ids_a"))
    gb = groups.select(F.col("simhash").alias("s_b"), F.col("ids").alias("ids_b"))
    # explode ids_a first, then ROUND-ROBIN repartition before the second
    # explode: all rows of one sig pair land in one task after the first
    # explode, and a hot pair (big cluster × big cluster) would otherwise
    # expand single-threaded (guide §2.5 — explode skew). Self pairs emit
    # each unordered doc pair twice through the double explode, so they
    # keep only the ``id_a < id_b`` orientation; cross pairs emit each
    # combination once and canonicalize via least/greatest.
    return (
        sig_pairs.join(ga, "s_a")
        .join(gb, "s_b")
        .select(
            F.explode("ids_a").alias("id_a"),
            "ids_b",
            "hamming",
            (F.col("s_a") == F.col("s_b")).alias("self"),
        )
        .repartition(n_parts)
        .select("id_a", F.explode("ids_b").alias("id_b"), "hamming", "self")
        .filter(~F.col("self") | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("doc_id_a"),
            F.greatest("id_a", "id_b").alias("doc_id_b"),
            "hamming",
        )
    )


def simhash_near_dups_df(spark, sf_dir: str):
    """SimHash near-dup pairs (doc_id_a, doc_id_b, hamming) with exact
    recall at hamming ≤ r — see :func:`simhash_near_dup_pairs_from`
    (whose grouped-signature checkpoint also makes the signature pass
    execute exactly once per query)."""
    return simhash_near_dup_pairs_from(simhash_df(spark, sf_dir))


#: bump when the simhash derivation changes (invalidates stored tables).
SIMHASH_SIG_VERSION = "v1"


def simhash_sig_table(spark, sf_dir: str):
    """The STORED SimHash table ``(doc_id, simhash)`` — the 100 TB shape
    the recompute face's docstring promises: the signature pass (md5
    of every distinct word) runs once at ingest; every pair pass scans 16
    bytes/doc. Mirrors :func:`minhash_sig_table`."""
    from ..sources import catalog

    key = catalog.source_key(sf_dir, "documents")
    return catalog.cached_table(
        spark,
        f"simhash_sigs_{key}_{SIMHASH_SIG_VERSION}_{CORPUS_TAG}",
        lambda: simhash_df(spark, sf_dir),
    )


def simhash_near_dups_stored_df(spark, sf_dir: str):
    """Stored-table face of :func:`simhash_near_dups_df` — identical
    output (same oracle SQL), no text re-read per pass. The rows
    are already skinny (one int64), so unlike the MinHash path no
    skinny-fetch split is needed — the band join itself is the right
    plan over the stored scan."""
    return simhash_near_dup_pairs_from(simhash_sig_table(spark, sf_dir))


def sql_simhash_near_dups() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
    WITH s AS ({sql_simhash()}),
    b AS (
      SELECT doc_id, simhash, band,
             (simhash >> (64 - {SIMHASH_BAND_BITS} * (band + 1))) & {mask} AS bucket
      FROM s CROSS JOIN (SELECT unnest(range(0, {N_SIMHASH_BANDS})) AS band)
    )
    SELECT DISTINCT a.doc_id AS doc_id_a, b2.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
    FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.simhash, b2.simhash)) <= {SIMHASH_HAMMING_R}
    """


# ------------------------------------------------ embedding-cosine near-dup
#: planted emb-dup derivation constants (ADVICE r7: hoisted so the stored
#: bucket table's cache key can fold them — editing a perturbation constant
#: must invalidate the on-disk table, mirroring CORPUS_TAG for the text
#: signature keys). One definition, both engines.
EMB_DUP_MOD = 5
EMB_DUP_OFFSET = 1_000_000
EMB_DUP_SCALE = 1.05

#: folded into the emb_buckets_ cache key next to the plane params.
EMB_DUP_TAG = _derivation_tag(EMB_DUP_MOD, EMB_DUP_OFFSET, EMB_DUP_SCALE)


def with_emb_dups_df(spark, sf_dir: str):
    """embeddings ∪ perturbed copies (vec_id%5==0, dim 0 scaled by 1.05,
    id offset +10^6) — deterministic live positives for near-dup ops."""
    from pyspark.sql import functions as F

    from .similarity import EMB_DIM, _emb_spread

    emb = _emb_spread(spark, sf_dir)
    perturbed = emb.filter(F.col("vec_id") % EMB_DUP_MOD == 0).select(
        (F.col("vec_id") + EMB_DUP_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at(F.col("v"), 1) * EMB_DUP_SCALE),
            F.slice(F.col("v"), 2, EMB_DIM - 1),
        ).alias("v"),
    )
    return emb.unionByName(perturbed)


def sql_with_emb_dups() -> str:
    return (
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
        f"UNION ALL SELECT vec_id + {EMB_DUP_OFFSET} AS vec_id, "
        f"list_concat([v[1] * {EMB_DUP_SCALE}], v[2:]) AS v "
        "FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) "
        f"WHERE vec_id % {EMB_DUP_MOD} = 0"
    )


def probe_buckets_col(bucket, n_planes: int):
    """1-bit-flip multi-probe set of a sign bucket: the bucket itself
    plus the ``n_planes`` buckets at hamming distance 1."""
    from pyspark.sql import functions as F

    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])


def set_buckets_col(v, n_planes: int, n_sets: int):
    """Array of the vector's sign buckets under each independent plane
    set — ``posexplode`` of this is the (set_id, bucket) blocking key."""
    from pyspark.sql import functions as F

    from .similarity import sign_bucket_col

    return F.array(*[sign_bucket_col(v, n_planes, s) for s in range(n_sets)])


def probe_set_buckets_col(v, n_planes: int, n_sets: int, multiprobe: bool):
    """Array of (set_id, bucket) probe structs: for every plane set, the
    vector's own bucket plus (if ``multiprobe``) its ``n_planes`` 1-bit
    flips. The probing side explodes this; the build side keeps exact
    buckets only."""
    from pyspark.sql import functions as F

    from .similarity import sign_bucket_col

    structs = []
    for s in range(n_sets):
        b = sign_bucket_col(v, n_planes, s)
        structs.append(F.struct(F.lit(s).alias("set_id"), b.alias("bucket")))
        if multiprobe:
            structs += [
                F.struct(
                    F.lit(s).alias("set_id"),
                    b.bitwiseXOR(F.lit(1 << i)).alias("bucket"),
                )
                for i in range(n_planes)
            ]
    return F.array(*structs)


def emb_near_dup_pairs_from(emb, n_planes: int, multiprobe: bool = True, n_sets: int = None):
    """Near-dup pairs from a ``(vec_id, v)`` frame via band-OR sign-bucket
    blocking + exact in-bucket cosine (VERDICT r3 item 2).

    Candidates are the UNION over :data:`similarity.N_PLANE_SETS`
    independent plane sets (each also 1-bit multi-probed when
    ``multiprobe``) — the same multiple-independent-bucket-functions
    construction that made simhash recall exact. A qualifying pair is
    missed only if EVERY set splits it by ≥ 2 hyperplanes; per-set miss
    probabilities multiply. One (set_id, bucket) equi-join — never
    all-pairs; a pair colliding in several sets is deduped by the final
    ``distinct`` (cosine is deterministic/rounded, so the tuple is
    identical across sets)."""
    from pyspark.sql import functions as F

    from .similarity import N_PLANE_SETS, _cosine_pre, _norm

    if n_sets is None:
        n_sets = N_PLANE_SETS
    emb = emb.withColumn("_n", _norm(F.col("v")))  # per-vector norm, hoisted
    a = emb.select(
        F.explode(probe_set_buckets_col(F.col("v"), n_planes, n_sets, multiprobe)).alias("p"),
        F.col("vec_id").alias("vec_id_a"),
        F.col("v").alias("va"),
        F.col("_n").alias("na"),
    ).select(
        F.col("p.set_id").alias("set_id"), F.col("p.bucket").alias("bucket"),
        "vec_id_a", "va", "na",
    )
    b = emb.select(
        F.posexplode(set_buckets_col(F.col("v"), n_planes, n_sets)).alias("set_id", "bucket"),
        F.col("vec_id").alias("vec_id_b"),
        F.col("v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    cos = _cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(b, ["set_id", "bucket"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .distinct()
    )


def embedding_near_dups_df(spark, sf_dir: str):
    """Embedding near-duplicates (vec_id_a, vec_id_b, cosine ≥ 0.9).

    The hyperplane count is derived from the corpus size via parquet
    FOOTER metadata (:func:`..sources.catalog.parquet_row_count` —
    Iceberg snapshot stats at scale), so sizing costs zero Spark jobs
    and bucket occupancy stays ~:data:`TARGET_BUCKET_SIZE` as the corpus
    grows. Band-OR over independent plane sets + per-set 1-bit
    multi-probe holds recall; one (set_id, bucket) shuffle."""
    from ..sources.catalog import parquet_row_count

    n_raw = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    emb = with_emb_dups_df(spark, sf_dir)
    # with_emb_dups adds one perturbed copy per vec_id % 5 == 0; for the
    # contiguous 0..n-1 id domain that is ceil(n/5) copies, NOT n//5 — the
    # SQL twin counts the actual unioned corpus, so an off-by-one here at a
    # TARGET_BUCKET_SIZE*2^k boundary would silently diverge every bucket
    # (ADVICE r4, medium).
    return emb_near_dup_pairs_from(emb, n_planes_for(n_raw + (n_raw + 4) // 5))


#: bump when the sign-bucket derivation changes (invalidates stored tables).
EMB_BUCKET_VERSION = "v1"


def emb_bucket_table(spark, sf_dir: str):
    """The STORED embedding sign-bucket table ``(vec_id, v, set_id,
    bucket)`` — one row per (vector, plane set), computed ONCE at ingest
    (r7: completes the ingest-once family — MinHash, SimHash, IVF cells,
    and now the hyperplane buckets). Returns ``(table, n_planes)``.

    At 10^10 vectors the ``N_PLANE_SETS × n_planes`` dot products per
    vector are the dominant blocking cost; storing the bucket ids means a
    pair pass never re-scores them — and the 1-bit multi-probe set is
    pure BIT MATH over the stored bucket (``bucket XOR (1 << i)``), so
    probing needs no vector access at all. The cache key carries the
    plane-count derivation inputs and the embeddings content fingerprint."""
    from pyspark.sql import functions as F

    from ..sources import catalog
    from .similarity import N_PLANE_SETS

    n_raw = catalog.parquet_row_count(f"{sf_dir}/embeddings.parquet")
    # same corpus-size derivation as embedding_near_dups_df (dup'd corpus)
    n_planes = n_planes_for(n_raw + (n_raw + 4) // 5)

    def build():
        emb = with_emb_dups_df(spark, sf_dir)
        return emb.select(
            "vec_id",
            "v",
            F.posexplode(set_buckets_col(F.col("v"), n_planes, N_PLANE_SETS)).alias(
                "set_id", "bucket"
            ),
        )

    tbl = catalog.cached_table(
        spark,
        f"emb_buckets_{catalog.source_key(sf_dir, 'embeddings')}_{EMB_BUCKET_VERSION}"
        f"_{EMB_DUP_TAG}_p{n_planes}s{N_PLANE_SETS}",
        build,
    )
    return tbl, n_planes


def embedding_near_dups_stored_df(spark, sf_dir: str):
    """Stored-bucket face of :func:`embedding_near_dups_df` — identical
    output (same oracle SQL), zero dot products in the blocking stage:

    * probe side = the stored buckets' 1-bit flips (bit math only),
      carrying just (set_id, bucket, vec_id) — a SKINNY explode;
    * build side = the stored exact buckets, skinny too;
    * the few surviving candidate pairs fetch their vectors BY vec_id
      from the stored table for the exact-cosine verification — the same
      candidates-then-fetch topology as the MinHash skinny-fetch join.
    """
    from pyspark.sql import functions as F

    from .similarity import _cosine_pre, _norm

    tbl, n_planes = emb_bucket_table(spark, sf_dir)
    a = tbl.select(
        "set_id",
        F.explode(probe_buckets_col(F.col("bucket"), n_planes)).alias("bucket"),
        F.col("vec_id").alias("vec_id_a"),
    )
    b = tbl.select("set_id", "bucket", F.col("vec_id").alias("vec_id_b"))
    cand = (
        a.join(b.hint("SHUFFLE_HASH"), ["set_id", "bucket"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
        .distinct()
    )
    # one (vec_id, v) row per vector: any single plane set's rows cover all
    vecs = tbl.filter(F.col("set_id") == 0).select(
        "vec_id", "v", _norm(F.col("v")).alias("_n")
    )
    va = vecs.select(
        F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va"), F.col("_n").alias("na")
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb"), F.col("_n").alias("nb")
    )
    cos = _cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        cand.join(va, "vec_id_a")
        .join(vb, "vec_id_b")
        .select("vec_id_a", "vec_id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


def sql_embedding_near_dups() -> str:
    """DuckDB twin with a RUNTIME plane count: the ``np`` CTE replays
    :func:`n_planes_for` over the scanned corpus (the Spark face derives
    the same number from the parquet footer), so the oracle gate is
    scale-generic — it hash-matches at sf0.01 AND sf0.1 (tested). Band-OR
    plane sets + per-set 1-bit probe replicated."""
    from .similarity import (
        MAX_ORACLE_PLANES,
        N_PLANE_SETS,
        _sql_cosine,
        sql_n_planes,
        sql_sign_bucket_dyn,
    )

    cos = _sql_cosine("a.v", "b.v")
    per_set = " UNION ALL ".join(
        f"SELECT vec_id, v, {s} AS set_id, {sql_sign_bucket_dyn('v', 'np.n', s)} AS bucket "
        "FROM emb, np"
        for s in range(N_PLANE_SETS)
    )
    return f"""
    WITH emb AS (SELECT vec_id, v FROM ({sql_with_emb_dups()})),
    np AS ({sql_n_planes('emb')}),
    bk AS ({per_set}),
    probed AS (
      SELECT vec_id, v, set_id,
             CASE WHEN i = 0 THEN bucket ELSE xor(bucket, 1 << (i - 1)) END AS bucket
      FROM bk CROSS JOIN (SELECT unnest(range(0, {MAX_ORACLE_PLANES + 1})) AS i), np
      WHERE i <= np.n
    )
    SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, {cos} AS cosine
    FROM probed a JOIN bk b ON a.set_id = b.set_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cos} >= {COSINE_DUP_THRESHOLD}
    """


# ------------------------------------------------- near-dup components
#: safety bound for the label-propagation loop. Rounds are O(log
#: max-component-size) (hook + pointer-jump roughly doubles the distance
#: labels travel each round), so 50 covers any graph that fits in 2^50
#: nodes; exhausting it means a logic bug, and :func:`components_from`
#: RAISES rather than returning un-converged labels (ADVICE r3).
MAX_CC_ITERS = 50


def _components_with_rounds(pairs):
    """Core of :func:`components_from`; also returns the round count so
    tests can assert the O(log n) bound on adversarial chains."""
    from pyspark.sql import functions as F

    fwd = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    rev = pairs.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(MAX_CC_ITERS):
        rounds += 1
        # hook: every node takes the min label over its closed neighborhood
        incoming = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        hooked = (
            labels.unionByName(incoming).groupBy("doc_id").agg(F.min("label").alias("label"))
        )
        # pointer jump: label <- label(label). Every label value is itself
        # a doc_id in the node set (it is a min over node ids), so the
        # equi-join is total; jumping halves the remaining chain depth.
        parents = hooked.select(
            F.col("doc_id").alias("parent"), F.col("label").alias("plabel")
        )
        jumped = hooked.join(parents, hooked.label == parents.parent).select(
            "doc_id", F.col("plabel").alias("label")
        )
        # carry the previous label through so convergence is an exact
        # changed-row COUNT on the checkpointed frame — not a sum(label)
        # signal that could wrap on huge graphs (ADVICE r3). The LAZY
        # checkpoint materializes under the count itself: one job per
        # round, not a materialize-job + a count-job (the per-round
        # driver-side fixed cost is what bounds scaling efficiency).
        new_labels = (
            jumped.join(labels.withColumnRenamed("label", "old_label"), "doc_id")
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {MAX_CC_ITERS} rounds "
            "(hook + pointer-jump is O(log component-size): this is a bug, "
            "not a deep graph)"
        )
    out = labels.select(
        "doc_id",
        F.col("label").alias("component_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )
    return out, rounds


def components_from(pairs):
    """Connected components of an undirected pair graph
    ``(doc_id_a, doc_id_b)`` → ``(doc_id, component_id, is_canonical)``
    with ``component_id`` = min doc_id reachable (one row per doc that
    appears in at least one pair).

    Algorithm (VERDICT r3 item 4 — O(log n) rounds, not O(diameter)):
    alternating **hook** (each node takes the min label over its closed
    neighborhood — one edges⋈labels shuffle) and **pointer jump**
    (``label ← label(label)`` — one labels self-join), the min-label
    variant of large-star/small-star. Hooking moves a component's min
    one hop per round on its own; jumping re-traverses the freshly
    hooked pointers, so the distance the min label covers roughly
    DOUBLES each round — a planted 1,000-node chain converges in ~10
    rounds where plain propagation needs ~1,000 (asserted in
    ``tests/test_dedup_text.py``). Labels only ever decrease (a jump
    target ``label(x) ≤ x``), so the fixpoint — every node at its
    component min, stable under both steps — is unique and identical to
    plain propagation; the DuckDB recursive-CTE oracle is unchanged.
    Each round is one (node,label) shuffle + one self-join;
    ``localCheckpoint`` truncates lineage so plans stay flat.
    Convergence = changed-label count == 0 (exact, no wrapping sum);
    exhausting :data:`MAX_CC_ITERS` raises instead of silently
    returning un-converged labels.
    """
    out, _rounds = _components_with_rounds(pairs)
    return out


def dedup_components_df(spark, sf_dir: str):
    """Near-dup groups: connected components over the MinHash-LSH pair
    graph (the step a production dedup runs after pair generation — keep
    one canonical doc per component, not per pair)."""
    pairs = minhash_lsh_pairs_df(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return components_from(pairs)


def sql_components_over(pairs_sql: str) -> str:
    """DuckDB twin of :func:`components_from` over ANY
    ``(doc_id_a, doc_id_b)`` pair SELECT: min-reachable-label via a
    recursive CTE (UNION dedups, so the walk terminates); same unique
    fixpoint as the Spark label propagation."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
      UNION SELECT doc_id_b, doc_id_a FROM pairs
    ),
    walk(doc_id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
    )
    SELECT doc_id, min(label) AS component_id,
           doc_id = min(label) AS is_canonical
    FROM walk GROUP BY doc_id
    """


def sql_dedup_components() -> str:
    """DuckDB twin of :func:`dedup_components_df` (see
    :func:`sql_components_over`)."""
    return sql_components_over(
        f"SELECT doc_id_a, doc_id_b FROM ({_sql_lsh_verified_pairs(JACCARD_THRESHOLD)})"
    )


def dedup_components_multi_df(spark, sf_dir: str):
    """Multi-signal near-dup groups: connected components over the UNION
    of the MinHash-LSH pair graph (word-3-gram Jaccard ≥ 0.7 — shared-
    vocabulary duplicates) and the SimHash pair graph (hamming ≤ 3 —
    small-edit duplicates). A production dedup keeps ONE doc per group
    across ALL its signals, not one grouping per signal: two docs joined
    by either signal must share a canonical, and a chain mixing signals
    (A≈B by Jaccard, B≈C by simhash) collapses to one component.

    Scale shape: both pair generators are bucketed equi-joins (band-key /
    (band, bucket)) that never go all-pairs; the union is edge
    concatenation (no shuffle of its own — duplicate edges are harmless
    to the min-label fixpoint), and :func:`components_from` stays
    O(log n) rounds in the size of the LARGEST merged component.
    """
    mh = minhash_lsh_pairs_df(spark, sf_dir).select("doc_id_a", "doc_id_b")
    sh = simhash_near_dup_pairs_from(simhash_df(spark, sf_dir)).select(
        "doc_id_a", "doc_id_b"
    )
    return components_from(mh.unionByName(sh))


def sql_dedup_components_multi() -> str:
    """DuckDB twin of :func:`dedup_components_multi_df`: the same
    recursive-CTE walk over the UNION (dedups) of both pair SELECTs."""
    return sql_components_over(
        f"SELECT doc_id_a, doc_id_b FROM ({_sql_lsh_verified_pairs(JACCARD_THRESHOLD)}) "
        f"UNION SELECT doc_id_a, doc_id_b FROM ({sql_simhash_near_dups()})"
    )


def dedup_components_multi_stored_df(spark, sf_dir: str):
    """The full ingest-once dedup pipeline (r6): multi-signal components
    where BOTH pair generators read their STORED signature tables —
    MinHash via skinny-fetch over :func:`minhash_sig_table`, SimHash
    over :func:`simhash_sig_table`. Between ingest (two signature
    writes) and the component fixpoint, no text is re-read and no
    Python UDF runs — the steady-state topology a 10^12-doc dedup
    service runs per pass. Output identical to the recompute face
    (same oracle SQL)."""
    mh = lsh_pairs_from_stored(spark, sf_dir).select("doc_id_a", "doc_id_b")
    sh = simhash_near_dup_pairs_from(simhash_sig_table(spark, sf_dir)).select(
        "doc_id_a", "doc_id_b"
    )
    return components_from(mh.unionByName(sh))
