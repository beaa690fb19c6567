"""LLM-data-pipeline extension operators (SURVEY.md section 2-C + north star):
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
similarity search (brute-force + LSH-bucketed ANN), multimodal columns.

Scale posture is the whole point here:

- MinHash signatures are computed as k min-aggregations over an md5-derived
  double-hashing family - NO k-times row explosion, one shuffle on doc_id.
- LSH banding turns O(n^2) pair generation into per-bucket joins; only
  candidate pairs get exact verification.
- ANN: query side is broadcast; the corpus is never collected; top-k via
  window over (query, candidate) scores.
- All-pairs scoring only ever happens inside buckets/blocks, mirroring what
  survives at 100 TB.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bee_proof_spark.queries import register, spread_scan, table_info, tbl
from bee_proof_spark.tmputil import corpus_tag, pid_dir

# ------------------------------------------------------------------ helpers

def _words(doc_df: DataFrame) -> DataFrame:
    """documents + word array column (a MULTISET - repeats kept: simhash's
    per-token bit votes weight repeated words; set-semantics callers apply
    array_distinct themselves)."""
    return doc_df.withColumn("words", F.split("text", " "))


def _shingles(doc_df: DataFrame, n: int = 3) -> DataFrame:
    """Word n-gram shingles as an array column (JVM-side transform/slice)."""
    return _words(doc_df).withColumn(
        "shingles",
        F.expr(
            f"transform(sequence(0, greatest(size(words) - {n}, 0)),"
            f" i -> concat_ws(' ', slice(words, i + 1, {n})))"
        ),
    )


# ------------------------------------------------------------------ dedup

@register(
    "ext_dedup_exact",
    oracle="""
    SELECT lang, source, min(doc_id) AS keep_doc, count(*) AS n_dups
    FROM documents GROUP BY lang, source
    """,
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative per key, deterministic keeper (min id).

    hash-groupBy, single shuffle on the dedup key. dropDuplicates() picks an
    arbitrary survivor under parallelism - min() is the reproducible choice.
    """
    d = tbl(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_dups")
    )


# DuckDB 3-gram shingle generator (mirror of _shingles): words[i:i+2] is the
# inclusive 3-word slice; docs shorter than 3 words yield one whole-doc shingle.
_SH0_SQL = """
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
                i -> array_to_string(words[i:i+2], ' '))) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""

# CTE chain shared by the jaccard oracle and the clustering oracle.
_JACCARD_CTES = f"""
sh0 AS ({_SH0_SQL}),
nd AS (SELECT count(*) AS n_docs FROM documents),
w AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
    FROM sh0
  ) WHERE df <= least(greatest(0.02 * (SELECT n_docs FROM nd), 10), 10000)
),
sizes AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jpairs AS (
  SELECT doc_a, doc_b,
         round(n_shared / (sa.n + sb.n - n_shared), 4) AS jaccard
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_shared / (sa.n + sb.n - n_shared) >= 0.5
)
"""

_JACCARD_ORACLE = f"WITH {_JACCARD_CTES} SELECT doc_a, doc_b, jaccard FROM jpairs"


def _shingle_postings(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) postings for 3-gram shingles.

    In-document duplicate shingles are removed JVM-side (array_distinct)
    BEFORE the explode, so the output is already unique per (doc_id,
    shingle) with ZERO shuffle - a .distinct() here would shuffle the whole
    posting list once more for nothing (measured ~25% of the family's cost).
    """
    return _shingles(d).select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("shingle")
    )


# ------------------------------------------------- family-level materialization

#: Checkpointed intermediates shared across the near-dup family, keyed by
#: (applicationId, sf_dir, stage). localCheckpoint blocks live for the life
#: of the SparkContext, so applicationId is the correct cache scope; entries
#: from a stopped context are evicted lazily on first access under a new one.
#: At warehouse scale these are staged tables (checkpoint to object store) -
#: the point is identical either way: the corpus shingle explode and the
#: jaccard pair join are each computed ONCE per corpus, no matter how many
#: downstream dedup operators consume them. Fixture dirs are immutable per
#: process (TESTDATA.md), which is what makes per-path memoization sound.
#: ``_FAMILY_LOCK`` is held across lookup, eviction, ``build()`` and the
#: FIFO cap, so concurrent first callers build a stage once and share it.
#: It is re-entrant because stage builds nest (shared_minhash_signatures
#: builds on shared_shingle_postings).
_FAMILY_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_FAMILY_LOCK = threading.RLock()

#: Corpus-size cutover from block-manager checkpoints to disk staging: a
#: documents fixture above this many bytes of compressed parquet explodes
#: into postings that outgrow one JVM's block-manager budget (the 783 MB
#: 1000x fixture's ~1e9-row postings OOMed the 48 g probe heap under
#: localCheckpoint, SCALE.md r4 near-dup note), so its family stages are
#: written to parquet under the engine tmp tree and read back - exactly the
#: staged-table shape a cluster deployment uses on the object store, with
#: columnar compression instead of java-serialized blocks. The 100x fixture
#: (76 MB docs) stays on the fast in-memory path.
_DISK_STAGE_DOC_BYTES = 256 * 1024 * 1024
#: Embedding families cut over to disk much later than text families: a
#: text corpus fans out into postings/signature tables many times its
#: size, but the unit-vector table is ~2x corpus, and re-reading it as
#: parquet costs real decode time (interleaved A/B at a 507 MB corpus:
#: warm 87 s memory-staged vs 127 s disk-staged - array-typed parquet
#: decode of 1 GB twice per query). Below this bound block-manager
#: staging is strictly faster and spills gracefully; above it the staged
#: table starts to crowd executor memory and durability wins.
_DISK_STAGE_EMB_BYTES = 2 * 1024**3


#: Bound on cached checkpoints per process: a long-lived session sweeping
#: many corpora (oracle sweeps over tmp fixtures, multi-sf benches) must not
#: pin unbounded block-manager memory. FIFO eviction drops the dict's (and
#: thus Python's) last reference; Spark's ContextCleaner releases the
#: checkpoint blocks after GC unless a still-live derived plan holds the
#: RDD - which is exactly when the blocks must survive anyway.
#: Sized ABOVE the one-corpus working set (~14 stages after r8 added
#: ivf_assign + simhash_sig: sh0, minhash_sig, lsh_pairs, cand_postings,
#: capped_postings, jaccard_pairs, unit_vec, knn_lsh_buckets, knn_exact/
#: knn_lsh/knn_ivf, emb-lsh buckets, simhash_sig, ivf_assign) - at the old
#: cap of 12 a full bench pass FIFO-evicted the corpus postings mid-sweep
#: and pass 2 silently re-exploded the corpus, the exact cost the stages
#: exist to avoid.
_FAMILY_CACHE_MAX = 24


def _family_checkpoint(
    spark: SparkSession, sf_dir: str, stage: str, build, source: str = "documents"
) -> DataFrame:
    """``source`` names the fixture table whose compressed size gates the
    memory-vs-disk staging decision - the corpus the staged table scales
    with. Text families derive from ``documents``; embedding families pass
    ``embeddings`` (a corpus with terabytes of vectors but few documents
    must still disk-stage its unit-vector table, and vice versa)."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, stage)
    with _FAMILY_LOCK:
        for k in [k for k in _FAMILY_CACHE if k[0] != app]:
            del _FAMILY_CACHE[k]
        df = _FAMILY_CACHE.get(key)
        if df is not None:
            return df
        cutover = (
            _DISK_STAGE_EMB_BYTES if source == "embeddings" else _DISK_STAGE_DOC_BYTES
        )
        if table_info(sf_dir, source).bytes >= cutover:
            # big corpus: stage to parquet (see _DISK_STAGE_DOC_BYTES) in
            # this pid's dir: its read-back DataFrames lazily reference the
            # files. The _SUCCESS check makes the stage restart-safe within
            # a pid (staged stages survive session restarts, sound because
            # fixture dirs are immutable per process, TESTDATA.md); a
            # half-written dir from a killed run is overwritten whole.
            path = os.path.join(pid_dir("familystage"), f"{corpus_tag(sf_dir)}-{stage}")
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                build().write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
        else:
            # Lazy: the checkpoint materializes fused into its first
            # consumer's job instead of as a separate pass (same-host A/B,
            # r5: lazy is 5-10% faster cold AND warm across the family at
            # sf0.1 - the eager form paid one extra traversal per stage).
            df = build().localCheckpoint(eager=False)
        _FAMILY_CACHE[key] = df
        while len(_FAMILY_CACHE) > _FAMILY_CACHE_MAX:
            _FAMILY_CACHE.pop(next(iter(_FAMILY_CACHE)))
        return df


def shared_shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus (doc_id, shingle) postings table, materialized once per
    (app, corpus): ext_dedup_ngram_jaccard, ext_dedup_fuzzy_verified and
    ext_dedup_cluster all read this instead of re-exploding the corpus."""
    # spread_scan: the corpus shingle explode is the family's heaviest
    # narrow stage; over the single-row-group fixture layout it would run
    # on ONE core (and every consumer of the 1-partition checkpoint - the
    # jaccard pair join's probe side, the minhash aggregation's map side -
    # would inherit that). Layout-gated no-op on a properly chunked corpus.
    # Measured (sf0.1, local[32], min-of-3 warm floors): jaccard 2.65
    # -> 1.48 s, fuzzy 0.48 -> 0.35 s, fuzzy_verified 0.93 -> 0.73 s,
    # cluster 2.98 -> 2.52 s.
    return _family_checkpoint(
        spark, sf_dir, "sh0",
        lambda: _shingle_postings(spread_scan(spark, sf_dir, "documents", "doc_id")),
    )


def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair table (doc_a, doc_b, jaccard), materialized once per
    (app, corpus). ext_dedup_cluster consumes this instead of rebuilding the
    whole inverted-index pipeline for its edge list."""
    return _family_checkpoint(
        spark, sf_dir, "jaccard_pairs",
        lambda: ext_dedup_ngram_jaccard(spark, sf_dir),
    )


def shared_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + 32-hash signature array, materialized once per (app, corpus):
    the signature aggregation over the full postings table is the most
    expensive stage shared by ext_dedup_fuzzy and ext_dedup_fuzzy_verified."""

    def build() -> DataFrame:
        return minhash_from_postings(shared_shingle_postings(spark, sf_dir)).select(
            "doc_id",
            F.array(*[F.col(f"mh{i}") for i in range(NUM_HASHES)]).alias("sig"),
        )

    return _family_checkpoint(spark, sf_dir, "minhash_sig", build)


def shared_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct LSH candidate pairs (doc_a < doc_b), materialized once per
    (app, corpus): both fuzzy pipelines band the same signatures, so the
    band self-join is paid once."""
    return _family_checkpoint(
        spark, sf_dir, "lsh_pairs",
        lambda: _lsh_candidate_pairs(shared_minhash_signatures(spark, sf_dir)),
    )


def shared_capped_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-capped (doc_id, shingle) postings - the hot-shingle blacklist
    applied - materialized once per (app, corpus). Consumed by the exact
    Jaccard self-join, which reads it three times: both join sides + the
    per-doc sizes agg.

    Hot-shingle blacklist via groupBy, NOT a window over the shingle
    partition: the window form shuffles EVERY posting row to compute df
    (no partial aggregation exists for windows), while groupBy map-side
    combines so only distinct-shingle partial counts cross the wire, and
    the resulting blacklist (shingles with df > cap, each costing >= 10
    postings) is small enough to broadcast into a shuffle-free anti-join.
    Measured on the 10x corpus: 9.4 s vs 12.2 s for the window form, and
    the gap widens with data volume (~0.7 s slower at sf0.1 where the two
    extra tiny jobs dominate - the 100 TB posture wins the trade).
    """

    def build() -> DataFrame:
        d = tbl(spark, sf_dir, "documents")
        sh0 = shared_shingle_postings(spark, sf_dir)
        nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
        hot = (
            sh0.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .join(nd)  # 1-row side: broadcast scalar, no shuffle
            # Relative floor, ABSOLUTE ceiling: a purely relative cap
            # (2% of corpus) scales the worst-case per-shingle pair blob
            # quadratically with corpus size - at 1B docs a 2%-df shingle
            # alone would emit C(20M, 2) pairs. The 10k ceiling bounds any
            # shingle's pair contribution to C(10k, 2) regardless of
            # corpus, making total join work postings-linear. Identical
            # formula in the oracle; no fixture shingle's df falls between
            # the old and new cap at any probed scale, so outputs are
            # unchanged on every fixture.
            .filter(
                F.col("df")
                > F.least(
                    F.greatest(0.02 * F.col("n_docs"), F.lit(10.0)), F.lit(10000.0)
                )
            )
            .select("shingle")
        )
        return sh0.join(F.broadcast(hot), "shingle", "left_anti").select(
            "doc_id", "shingle"
        )

    return _family_checkpoint(spark, sf_dir, "capped_postings", build)


@register("ext_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by exact 3-gram-shingle Jaccard >= 0.5 over the
    WHOLE corpus (oracle-checked).

    Candidate pairs come from an inverted-index self-join on shared shingles
    (never a cross join). A document-frequency cap - df <= min(max(2% of
    corpus, 10), 10k) - drops any hot shingle before the self-join: a
    boilerplate shingle shared by millions of docs would otherwise create
    an O(df^2) pair blob (the classic skew bomb), and the ABSOLUTE 10k
    ceiling keeps that bound corpus-independent (a purely relative cap
    would re-admit quadratic blobs as the corpus grows). On long-tail
    shingles the cap never binds; at 100 TB it bounds every posting list
    the join sees. The same cap is applied on both engines, so Jaccard is
    computed over identical capped sets; integer count arithmetic keeps
    it exact.
    """
    w = shared_capped_postings(spark, sf_dir)
    sizes = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = w.alias("a")
    b = w.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared") / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared"))
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS


def minhash_from_postings(postings: DataFrame) -> DataFrame:
    """doc_id + mh0..mh{k-1} MinHash signatures from (doc_id, shingle) rows.

    k min-aggregations in a single hash aggregate - signature cost is
    O(shingle rows) regardless of k (no per-seed explosion). MinHash is a
    min over the shingle SET, so distinct and non-distinct postings give
    identical signatures - callers that already have a distinct postings
    table reuse it with no extra explode.

    Hash family (r8, the change that graduated ext_dedup_fuzzy from
    rows-only to fully hash-checked): Kirsch-Mitzenmacher double hashing
    over ONE md5 per shingle - h1/h2 are the first two 32-bit hex words of
    md5(shingle), h_i = (h1 + i*h2) & 0xFFFFFFFF. Every step is exact
    integer arithmetic both engines implement identically (DuckDB parses
    the same hex via ('0x'||substr(md5(s),1,8))::BIGINT), so signatures -
    and therefore candidates and est_jaccard - agree cross-engine by
    construction. The previous xxhash64(shingle, seed) lane computed k
    string hashes per posting row; one md5 + k fused integer ops is the
    same O(rows) shape (A/B at sf0.1 in SCALE.md r8), and i*h2 <= 31*2^32
    never overflows a long, so the lane is ANSI-safe too.
    """
    sh = (
        postings.withColumn("m", F.md5("shingle"))
        .withColumn("h1", F.conv(F.substring("m", 1, 8), 16, 10).cast("long"))
        .withColumn("h2", F.conv(F.substring("m", 9, 8), 16, 10).cast("long"))
    )
    aggs = [
        F.min(F.expr(f"(h1 + {i} * h2) & 4294967295")).alias(f"mh{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


#: Per-bucket membership ceiling for the LSH band join. A degenerate bucket
#: (mass-identical signatures - empty/boilerplate documents are common in
#: real corpora) would emit C(bucket, 2) candidate pairs; 10k bounds any one
#: bucket's contribution to ~5e7 regardless of corpus size - the same
#: absolute-ceiling principle as the Jaccard df cap. A bucket that large is
#: not near-dup SIGNAL (real dup clusters are orders of magnitude smaller);
#: its members are exact/trivial dups that the digest-keyed content-dup
#: family catches without pair enumeration. Never binds on any fixture
#: (verified: fuzzy_verified's equality with the all-pairs oracle holds).
_LSH_BUCKET_CAP = 10_000


def _lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from banded MinHash signatures.

    The band self-join moves only 3-column rows (doc_id, band_idx,
    band_key); only bucket-mates are ever paired, and buckets above
    _LSH_BUCKET_CAP are dropped before the join (the hot-bucket blacklist
    is tiny - each entry costs >= cap rows - so it broadcasts into a
    shuffle-free anti-join, exactly like the Jaccard hot-shingle cap).

    The band key is the comma-joined decimal tuple of the band's minhash
    values - a plain string both engines render identically (what lets the
    oracle replicate the buckets verbatim). At deployment scale the key
    would be re-hashed to 8 bytes (xxhash64 of the tuple) to shrink the
    shuffle; the BUCKETING is identical either way, only the key width
    changes (~40 bytes vs 8 for a 4-row band).
    """
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"array_join(transform(slice(sig, {b * ROWS_PER_BAND + 1},"
                        f" {ROWS_PER_BAND}), x -> cast(x AS string)), ',')"
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    hot = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("members"))
        .filter(F.col("members") > _LSH_BUCKET_CAP)
        .select("band_idx", "band_key")
    )
    bands = bands.join(F.broadcast(hot), ["band_idx", "band_key"], "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _fuzzy_minhash_oracle() -> str:
    """Generated DuckDB oracle for ext_dedup_fuzzy: the SAME md5
    double-hashing signature math (minhash_from_postings), the same banded
    candidate join with the same hot-bucket cap, the same agreeing-hash
    fraction - every step exact integer arithmetic (or the exact double
    k/32), so the full MinHash+LSH pipeline is cross-engine hash-checkable
    with no literals and no margins (r8; previously rows-only under the
    xxhash64 lane, which DuckDB cannot evaluate)."""
    mh = ",\n         ".join(
        f"min((h1 + {i} * h2) & 4294967295) AS mh{i}" for i in range(NUM_HASHES)
    )
    band_keys = ",\n         ".join(
        "("
        + " || ',' || ".join(
            f"mh{b * ROWS_PER_BAND + i}::VARCHAR" for i in range(ROWS_PER_BAND)
        )
        + f") AS bk{b}"
        for b in range(BANDS)
    )
    band_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, bk{b} AS band_key FROM keys"
        for b in range(BANDS)
    )
    match_terms = " + ".join(
        f"(sa.mh{i} = sb.mh{i})::INT" for i in range(NUM_HASHES)
    )
    return f"""
WITH sh0 AS ({_SH0_SQL}),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
  FROM sh0
),
sig AS (SELECT doc_id, {mh} FROM h GROUP BY doc_id),
keys AS (SELECT doc_id, {band_keys} FROM sig),
bands AS ({band_union}),
cold AS (
  SELECT doc_id, band_idx, band_key FROM (
    SELECT doc_id, band_idx, band_key,
           count(*) OVER (PARTITION BY band_idx, band_key) AS members
    FROM bands
  ) WHERE members <= {_LSH_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM cold a JOIN cold b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
m AS (
  SELECT doc_a, doc_b, ({match_terms}) AS n_match
  FROM pairs
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, n_match / {NUM_HASHES} AS est_jaccard
FROM m WHERE n_match / {NUM_HASHES} >= 0.4
"""


@register("ext_dedup_fuzzy", oracle=_fuzzy_minhash_oracle())
def ext_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs (the scale path for fuzzy dedup).

    shingle -> 32-hash MinHash signature (array) -> 8 bands of 4 -> bucket
    join on (band_idx, band_key) -> distinct candidate pairs -> signature
    re-join -> estimated Jaccard = fraction of agreeing hashes, >= 0.4.

    Fully hash-checked since r8 (previously rows-only): the md5
    double-hashing lane (minhash_from_postings) is exact integer
    arithmetic both engines evaluate identically, so the generated oracle
    replicates signatures, buckets and the match fraction verbatim - and
    est_jaccard = k/32 is an exact double (denominator a power of two), so
    even the float column is bit-identical with no rounding contract.

    Shuffle economics: signatures cross the wire once per *candidate pair*,
    not once per band row (an 8x reduction vs banding the full signature).
    ext_dedup_fuzzy_verified additionally certifies LSH recall against
    all-pairs truth (exact-Jaccard verification of these candidates).
    """
    # Signatures read the family-shared postings checkpoint: MinHash is a
    # min over the shingle SET, so distinct postings give identical output
    # to a raw re-explode, and the corpus scan+explode is paid once per
    # (app, corpus) across the whole dedup family (measured 2.5x faster on
    # warm runs at sf0.1, byte-identical pairs). A per-call localCheckpoint
    # was a pessimization (it broke pipelining); a memoized one is not.
    # Signatures and banded candidate pairs are likewise family-shared.
    sig = shared_minhash_signatures(spark, sf_dir)
    pairs = shared_lsh_candidates(spark, sf_dir)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
            " 0, (acc, x) -> acc + x)"
        )
        / F.lit(NUM_HASHES)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.4)
        .select("doc_a", "doc_b", "est_jaccard")
    )


# Oracle for the verified LSH pipeline: ALL pairs with exact (uncapped)
# 3-gram-shingle Jaccard >= 0.5. The Spark side only examines LSH candidate
# pairs - equality with the all-pairs truth asserts 100% LSH recall at this
# threshold on the fixtures (verified empirically at sf0.01 and sf0.1; every
# true pair has J >= 0.8, where the 8x4 banding's miss probability is <2%
# per pair and measured misses are zero).
_FUZZY_VERIFIED_ORACLE = f"""
WITH sh0 AS ({_SH0_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM sh0 a JOIN sh0 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_shared / (sa.n + sb.n - n_shared), 4) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared / (sa.n + sb.n - n_shared) >= 0.5
"""


def shared_candidate_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED (doc_id, shingle) postings restricted to docs appearing in
    an LSH candidate pair, materialized once per (app, corpus).

    Exact verification only ever touches docs that appear in a candidate
    pair - at a constant dup RATE that is a small fraction of the corpus,
    so semi-filtering the postings FIRST keeps the wide shuffles (both
    join sides and the size agg) proportional to candidate docs, not to
    the corpus (measured at 100x: 29.5 s -> see SCALE.md). The broadcast
    holds one long per candidate doc; at corpus scales where that set
    outgrows the broadcast budget, swap in a runtime bloom semi-filter.
    Materializing the filtered table (rather than re-deriving it per
    consumer) is what collapses the verification plan's exchange count:
    sizes and both pair-join sides read the same tiny staged table.
    """

    def build() -> DataFrame:
        sh0 = shared_shingle_postings(spark, sf_dir)
        pairs = shared_lsh_candidates(spark, sf_dir)
        cand_docs = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        return sh0.join(F.broadcast(cand_docs), "doc_id", "leftsemi")

    return _family_checkpoint(spark, sf_dir, "cand_postings", build)


@register("ext_dedup_fuzzy_verified", oracle=_FUZZY_VERIFIED_ORACLE)
def ext_dedup_fuzzy_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production fuzzy-dedup pipeline: MinHash+LSH candidate
    generation followed by EXACT shingle-Jaccard verification >= 0.5.

    This is the oracle-checkable twin of ext_dedup_fuzzy: candidates come
    from the same banded signatures, but the output keeps only pairs whose
    true 3-gram Jaccard clears the threshold - so false positives are
    filtered exactly, and equality with the all-pairs oracle also certifies
    LSH recall on the fixture. Scale shape: exact verification joins
    postings for CANDIDATE pairs only (never all pairs); at 100 TB the
    verify cost is O(candidates x doc shingles), not O(n^2).
    """
    pairs = shared_lsh_candidates(spark, sf_dir)
    sh_c = shared_candidate_postings(spark, sf_dir)
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pa = sh_c.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    pb = sh_c.select(F.col("doc_id").alias("doc_b2"), F.col("shingle").alias("sh_b"))
    shared = (
        pairs.join(pa, "doc_a")
        .join(pb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared") / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared"))
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def simhash_signatures(doc_df: DataFrame) -> DataFrame:
    """doc_id + 64-bit simhash as TWO 32-bit halves (sim_lo, sim_hi),
    computed WITHOUT row explosion.

    Each of the 64 bit-votes is a conditional sum over the token rows -
    one hash aggregate, shuffle input = token rows exactly (the same k-aggs
    pattern minhash_from_postings uses). The old explode(sequence(0,63)) form
    multiplied shuffle input 64x; at 100 TB that amplification is the
    difference between a pass and a dead stage.

    Hash lane (r8, what graduated ext_dedup_simhash to hash-checked): the
    per-token 64 bits are the first two 32-bit hex words of md5(word) -
    exact integers both engines parse identically - and the signature is
    kept as two non-negative 32-bit halves so every downstream shift/xor/
    bit_count stays in unsigned-safe territory on both engines (a single
    64-bit long would drag DuckDB through sign-bit shift semantics). Vote
    ties (sum == 0) set the bit to 0 in both engines by the same b > 0
    predicate; integer sums make the tie decision exact.
    """
    tok = _words(doc_df).select("doc_id", F.explode("words").alias("word"))
    toks = (
        tok.withColumn("m", F.md5("word"))
        .withColumn("lo", F.conv(F.substring("m", 1, 8), 16, 10).cast("long"))
        .withColumn("hi", F.conv(F.substring("m", 9, 8), 16, 10).cast("long"))
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"({'lo' if i < 32 else 'hi'} >> {i % 32}) & 1") == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    # Sum the per-bit outcomes into each half; the powers of two are
    # disjoint so + and | are the same operation, and 2^31 < 2^63 keeps
    # everything overflow-free (ANSI-safe).
    lo_expr = " + ".join(f"if(b{i} > 0, {1 << i}L, 0L)" for i in range(32))
    hi_expr = " + ".join(f"if(b{i + 32} > 0, {1 << i}L, 0L)" for i in range(32))
    return votes.select(
        "doc_id", F.expr(lo_expr).alias("sim_lo"), F.expr(hi_expr).alias("sim_hi")
    )


# Connected components over the near-dup graph, as a recursive reachability
# closure: cluster_id = min doc_id reachable from each node; docs outside any
# pair are their own singleton cluster.
_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL SELECT doc_b, doc_a FROM jpairs
),
reach(node, root) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, r.root FROM edges e JOIN reach r ON e.dst = r.node
),
cc AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
       (coalesce(cc.cluster_id, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN cc USING (doc_id)
"""


@register("ext_dedup_cluster", oracle=_CLUSTER_ORACLE)
def ext_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components of the near-dup pair graph,
    canonical doc = min doc_id per component (the endgame of every dedup
    pipeline: A~B and B~C must collapse to ONE keeper even when A~C was
    never compared).

    Pregel-style min-label propagation, restricted to V(edges): docs that
    never matched a pair are singletons and cannot change labels, so the
    iteration runs over only the paired nodes (at corpus scale the edge set
    is orders of magnitude smaller than the corpus - near-dup rates are a few
    percent) and singletons are stitched back with one final left join.
    Converges in O(component diameter) rounds - near-dup clusters are
    near-cliques, so 2-3 rounds in practice. Each round is one shuffle join
    of the (tiny) edge list against the (doc_id, label) table; the moved-flag
    rides the same join, so the driver-side convergence check (the Pregel
    control loop - GraphX does the same) is a cheap sum over the checkpointed
    round output, not a second join. Lineage is truncated per round via
    localCheckpoint (at cluster scale: checkpoint to HDFS/object store).

    r14 optimization (guide section 1.2 step 1 - fewer passes, section 2.4):
    the initial labels fuse propagation step 1 into ONE aggregation -
    ``labels0(v) = min(v, min over N(v))`` is exactly what round 1 of the
    textbook init (``labels0(v) = v``) would compute via two joins, but a
    single ``groupBy(src).min(dst)`` over the edge list produces it in one
    shuffle with no join. Both init checkpoints are LAZY: the first
    convergence collect materializes edges + labels + round output in one
    Spark job (the same one-job-per-round discipline the loop already used
    for ``new_labels``). Measured sf0.1 local[32], interleaved min-of-4:
    1.442 -> 0.975 s, identical rows; per-job fixed cost was the entire
    delta (512-edge fixture graph). At scale the fusion is strictly fewer
    shuffles for the same fixpoint (min-label propagation reaches the same
    closure from any init between one step and the identity).
    """
    d = tbl(spark, sf_dir, "documents")
    # The pair table is the family-level checkpoint: when fuzzy_verified /
    # ngram_jaccard already ran in this app, the edge list is free here
    # (previously this rebuilt the whole inverted-index pipeline - measured
    # ~2-4 s of duplicate jaccard work per bench pass).
    pairs = jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        # lazy: round 1's convergence collect materializes it; reused from
        # the checkpoint cache every later round
        .localCheckpoint(eager=False)
    )
    # Fused init = propagation step 1: every node with at least one edge
    # (src covers all of them - the edge list holds both directions) starts
    # at min(self, neighbors) via one aggregation instead of a distinct +
    # the first round's two joins.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nb_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "nb_min").alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(50):
        nb = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nb_min"))
        )
        new_labels = (
            labels.join(nb, labels["doc_id"] == nb["src"])
            .select(
                "doc_id",
                F.least("cluster_id", "nb_min").alias("cluster_id"),
                (F.col("nb_min") < F.col("cluster_id")).cast("long").alias("moved"),
            )
            # lazy checkpoint: the convergence agg below is the action that
            # materializes it, so each round is ONE Spark job, not two
            .localCheckpoint(eager=False)
        )
        # Scalar convergence check (Pregel control loop); running it
        # materializes the round's checkpoint in the same job.
        changed = new_labels.agg(F.sum("moved")).collect()[0][0]  # driver-ok: 1-row convergence scalar
        labels = new_labels.drop("moved")
        # sum() over an empty labels table is NULL: a corpus with zero
        # near-dup pairs must converge on round 1, not burn 50 rounds.
        if not changed:
            converged = True
            break
    if not converged:
        # A >50-hop duplicate chain exhausted the round budget; labels would
        # be silently non-minimal (multiple "canonical" docs per cluster).
        # Fail loudly - the caller must raise the round cap, not ship them.
        raise RuntimeError(
            "ext_dedup_cluster: label propagation did not converge in 50 rounds"
        )
    return (
        d.select("doc_id")
        .join(labels.withColumnRenamed("cluster_id", "cc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cc_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("cluster_id") == F.col("doc_id"))
    )


def _simhash_oracle() -> str:
    """Generated DuckDB oracle for ext_dedup_simhash: the SAME md5-lane
    bit votes (simhash_signatures), the same 4 x 16-bit bands with the
    same hot-bucket cap, the same two-half Hamming distance - all exact
    integer arithmetic, so the pipeline is cross-engine hash-checkable
    with no literals and no margins (r8; previously rows-only under the
    xxhash64 lane, which DuckDB cannot evaluate)."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (({'lo' if i < 32 else 'hi'} >> {i % 32}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    lo_bits = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    hi_bits = " + ".join(
        f"(CASE WHEN b{i + 32} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(word), 1, 8))::BIGINT AS lo,
         ('0x' || substr(md5(word), 9, 8))::BIGINT AS hi
  FROM tok
),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
s AS (SELECT doc_id, ({lo_bits}) AS sim_lo, ({hi_bits}) AS sim_hi FROM v),
bands AS (
  SELECT doc_id, sim_lo, sim_hi,
         unnest([0, 1, 2, 3]) AS band_idx,
         unnest([sim_lo & 65535, (sim_lo >> 16) & 65535,
                 sim_hi & 65535, (sim_hi >> 16) & 65535]) AS band_val
  FROM s
),
cold AS (
  SELECT doc_id, sim_lo, sim_hi, band_idx, band_val FROM (
    SELECT doc_id, sim_lo, sim_hi, band_idx, band_val,
           count(*) OVER (PARTITION BY band_idx, band_val) AS members
    FROM bands
  ) WHERE members <= {_LSH_BUCKET_CAP}
),
p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.sim_lo, b.sim_lo))
         + bit_count(xor(a.sim_hi, b.sim_hi)) AS hamming
  FROM cold a JOIN cold b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 8
"""


@register("ext_dedup_simhash", oracle=_simhash_oracle())
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature from per-token hash bit
    votes; candidates share at least one of four 16-bit bands. Pigeonhole
    makes recall COMPLETE only for Hamming <= 3 (four differing bits can
    spread across all four bands); the <= 8 output filter keeps the extra
    band-colliding pairs it happens to see as best-effort candidates - the
    contract is "all pairs within 3, plus some within 8", not complete
    recall at 8.

    Fully hash-checked since r8 (previously rows-only): signatures come
    from :func:`simhash_signatures`'s md5 lane - 64 conditional sums in a
    single hash aggregate over un-exploded token rows (no 64x shuffle
    amplification), every step exact integer arithmetic the generated
    oracle replicates verbatim; a numpy bit-twiddle cross-check asserts
    the same signatures (tests/test_plans.py).

    Scale bounds: buckets above _LSH_BUCKET_CAP are dropped before pairing
    (degenerate low-entropy signatures; same ceiling as the MinHash bands).
    Inherent saturation note: 16-bit bands give 65,536 buckets per band, so
    expected bucket size grows as n/65,536 - at ~650M docs the cap would
    start binding on HEALTHY buckets, which is the signal to widen bands
    (e.g. 8 x 8-bit -> 4 x 16-bit -> 2 x 32-bit as the corpus decade grows);
    band width is the simhash recall/candidate-volume knob, not this cap.
    """
    # The 64-vote signature aggregate is the dominant cost (19.8 s warm at
    # the 100x fixture's 27M tokens) and is deterministic per corpus, so it
    # stages once per (app, corpus) like the minhash/postings family
    # stages; repeat calls (bench pass 2, future consumers) read the
    # staged (doc_id, sim_lo, sim_hi) rows.
    # spread_scan KEYLESS (round-robin): the 64-vote signature aggregation's
    # MAP side (token explode + partial agg, the dominant staging cost) is a
    # narrow stage over the corpus scan; layout-gated rebalance keeps it off
    # the one-core path the single-row-group fixture would force. Keyless on
    # purpose: spreading BY doc_id lets the groupBy(doc_id) elide its
    # exchange and the tiny signature table inherits the pinned 32-way
    # layout, which AQE can no longer coalesce - every warm downstream pass
    # then pays 32 near-empty tasks per stage (measured interleaved at
    # sf0.1, local[32]: warm floor 1.01 s keyed vs 0.40 s keyless/plain).
    # Round-robin keeps the agg exchange alive, so AQE sizes the staged
    # output while the build still fans out.
    sig = _family_checkpoint(
        spark,
        sf_dir,
        "simhash_sig",
        lambda: simhash_signatures(spread_scan(spark, sf_dir, "documents")),
    )
    banded = sig.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.posexplode(
            F.array(
                F.expr("sim_lo & 65535"),
                F.expr("(sim_lo >> 16) & 65535"),
                F.expr("sim_hi & 65535"),
                F.expr("(sim_hi >> 16) & 65535"),
            )
        ).alias("band_idx", "band_val"),
        # Three consumers (hot-bucket agg + both self-join sides) would
        # otherwise re-run the 64-agg signature aggregation each; one lazy
        # checkpoint materializes it fused into the first consumer.
    ).localCheckpoint(eager=False)
    hot = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("members"))
        .filter(F.col("members") > _LSH_BUCKET_CAP)
        .select("band_idx", "band_val")
    )
    banded = banded.join(F.broadcast(hot), ["band_idx", "band_val"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(
                "bit_count(a.sim_lo ^ b.sim_lo) + bit_count(a.sim_hi ^ b.sim_hi)"
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 8)
    )


# ------------------------------------------------------------------ similarity

def _unit_vectors(emb_df: DataFrame) -> DataFrame:
    """embedding -> L2-normalized double array (JVM-side, no UDF)."""
    dbl = F.expr("transform(embedding, x -> cast(x as double))")
    return emb_df.withColumn("vec", dbl).withColumn(
        "norm",
        F.sqrt(F.expr("aggregate(vec, 0.0D, (acc, x) -> acc + x * x)")),
    ).withColumn("unit", F.expr("transform(vec, x -> x / norm)"))


def shared_unit_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, unit): the L2-normalized embedding corpus, materialized
    once per (app, corpus). Every ANN / embedding-dedup query starts from this
    table, so the embeddings scan + normalize pass is paid once per family -
    the same _family_checkpoint pattern that collapsed the dedup family's
    repeated postings/signature builds."""
    return _family_checkpoint(
        spark, sf_dir, "unit_vec",
        lambda: _unit_vectors(tbl(spark, sf_dir, "embeddings")).select(
            "vec_id", "label", "unit"
        ),
        source="embeddings",
    )


_DOT = "aggregate(zip_with(a_unit, b_unit, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"

# Exact cosine top-k expressed in DuckDB. Ranking happens on the 4dp-ROUNDED
# cosine with a total (q_id, c_id) tie-break, so last-ulp float divergence
# between engines (summation order) cannot flip ranks - both sides agree
# unless a true cosine sits exactly on a 1e-4 rounding boundary.
_KNN_ORACLE = """
WITH n AS (
  SELECT vec_id,
         list_transform(
           list_transform(embedding, x -> cast(x as double)),
           x -> x / sqrt(list_sum(list_transform(
                  list_transform(embedding, e -> cast(e as double)), y -> y * y)))
         ) AS unit
  FROM embeddings
),
s AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         round(list_dot_product(q.unit, c.unit), 4) AS cosine
  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
),
r AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
  FROM s
)
SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 5
"""


@register("ext_knn_cosine", oracle=_KNN_ORACLE)
def ext_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors against the corpus.

    Queries are broadcast (tiny side); the corpus is scanned once, scored
    JVM-side with zip_with/aggregate (no Python), and top-k is a window with
    WindowGroupLimit pushdown. Linear in corpus size - the correct baseline.
    Ranking uses the 4dp-rounded score (see _KNN_ORACLE) so the result is
    engine-stable and fully oracle-checkable.
    """
    from pyspark.sql import Window

    e = shared_unit_vectors(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("a_unit")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("unit").alias("b_unit"))
    scored = (
        corpus.join(F.broadcast(queries), F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", F.round(F.expr(_DOT), 4))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "c_id", "cosine", "rnk")
    )


LSH_TABLES = 8
LSH_PLANES_PER_TABLE = 4


def _knn_lsh_planes():
    """Seeded plane bank for the knn LSH tables, ROUNDED TO 3 DECIMALS -
    the same cross-engine-exactness discipline as _emb_lsh_planes: each
    coefficient's decimal repr is embedded verbatim in the generated
    DuckDB oracle and parses to the identical double in both engines, so
    bucket signs agree by construction (given the pinned |dot| margin,
    tests/test_properties.py::test_knn_lsh_sign_margin...)."""
    import numpy as np

    rng = np.random.RandomState(42)
    return np.round(
        rng.standard_normal((LSH_TABLES, LSH_PLANES_PER_TABLE, 64)), 3
    )


def _lsh_bucketed(e: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket): multi-table random-hyperplane LSH buckets
    over the RAW embedding column (sign of dot(embedding, plane) - the
    same sign as against the unit vector, so normalization never enters
    the bucket margin).

    L=8 tables of k=4 planes each: a neighbor at angle theta collides in one
    table with prob (1 - theta/pi)^k; the union over 8 tables lifts recall
    (1-(1-p)^L) while each table keeps 16-way selectivity - the standard
    recall/selectivity dial for hyperplane LSH.

    All 32 plane dots happen in ONE float64 BLAS matmul per Arrow batch
    (scalar pandas_udf -> ArrowEvalPython) - the same shape
    ext_dedup_embedding_lsh uses, after its r6 A/B measured the
    zip_with/aggregate HOF form (one interpreted fold expression per
    table x plane) at 192 s warm vs ~15 s for the matmul at 2M vectors;
    this helper previously carried that slow form. Plane coefficients are
    3-decimal literals and every fixture's minimum |dot| margin is pinned
    orders of magnitude above summation-order divergence, which is what
    upgraded ext_knn_lsh from rows-only to fully oracle-hash-checked (r7).
    """
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    planes = _knn_lsh_planes()
    plane_mat = planes.reshape(LSH_TABLES * LSH_PLANES_PER_TABLE, 64).T.copy()
    pow2 = (1 << np.arange(LSH_PLANES_PER_TABLE, dtype=np.int64)).astype(np.int32)
    n_tables = LSH_TABLES

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def bucket_ids(emb):
        import pandas as pd

        mat = np.vstack(emb.to_numpy()).astype(np.float64)  # (B, 64)
        bits = (mat @ plane_mat) > 0  # (B, tables*planes)
        codes = (
            bits.reshape(len(mat), n_tables, -1).astype(np.int32) * pow2
        ).sum(axis=2)  # (B, tables)
        return pd.Series(list(codes))

    return e.select(
        "vec_id", F.posexplode(bucket_ids("embedding")).alias("tbl", "bucket")
    )


def _knn_lsh_oracle() -> str:
    """Generated DuckDB oracle for ext_knn_lsh: the SAME seeded 3-decimal
    plane bank (literals digit-identical to the Spark plan), the same
    bucket codes over raw embeddings, the same distinct candidate union
    for query ids < 10, and the _KNN_ORACLE rerank contract (4dp-rounded
    cosine, ties broken by c_id, top-5)."""
    planes = _knn_lsh_planes()
    bucket_cols = []
    for t in range(LSH_TABLES):
        bits = []
        for i in range(LSH_PLANES_PER_TABLE):
            lits = ", ".join(repr(float(v)) for v in planes[t, i])
            bits.append(
                f"(CASE WHEN list_dot_product(emb, [{lits}]) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        bucket_cols.append(" + ".join(bits) + f" AS b{t}")
    long_form = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM s"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS emb
  FROM embeddings
),
s AS (SELECT vec_id, {", ".join(bucket_cols)} FROM e),
m AS ({long_form}),
q AS (SELECT vec_id AS q_id, tbl, bucket FROM m WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT q.q_id, m.vec_id AS c_id
  FROM m JOIN q ON m.tbl = q.tbl AND m.bucket = q.bucket
   AND m.vec_id <> q.q_id
),
n AS (
  SELECT vec_id,
         list_transform(
           list_transform(embedding, x -> cast(x as double)),
           x -> x / sqrt(list_sum(list_transform(
                  list_transform(embedding, e -> cast(e as double)), y -> y * y)))
         ) AS unit
  FROM embeddings
),
v AS (
  SELECT q_id, c_id, round(list_dot_product(x.unit, y.unit), 4) AS cosine
  FROM cand
  JOIN n x ON x.vec_id = q_id
  JOIN n y ON y.vec_id = c_id
),
r AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
  FROM v
)
SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 5
"""


@register("ext_knn_lsh", oracle=_knn_lsh_oracle())
def ext_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN (the scale path): 8 random-hyperplane tables ->
    per-table bucket join -> distinct candidate union -> exact cosine rerank
    of candidates only -> top-5.

    Fully hash-checked since r7 (previously rows-only): the oracle
    replicates the bucket math from the same 3-decimal plane literals
    (_knn_lsh_planes) over raw embeddings - the ext_dedup_embedding_lsh
    discipline - and the rerank inherits the _KNN_ORACLE 4dp contract, so
    the approximate index's OUTPUT is cross-engine exact, not only its
    recall bound (which ext_knn_ann_recall still checks independently).

    Scale shape: the bucket join moves (vec_id, tbl, bucket) rows only;
    candidates are deduplicated BEFORE scoring so each (query, candidate)
    pair is scored once regardless of how many tables it collides in; the
    corpus is never compared all-pairs. Recall is measured against the
    brute-force twin by ext_knn_ann_recall.
    """
    from pyspark.sql import Window

    # The bucket table is a family checkpoint: the Arrow matmul over the
    # raw corpus runs once per (app, corpus), and BOTH sides of the
    # candidate join (the 10-query broadcast probe and the full probe
    # stream) plus ext_knn_ann_recall's reuse read the staged
    # (vec_id, tbl, bucket) rows - without it the probe side re-decoded
    # the raw parquet + re-ran the UDF per consumer (measured 38.9 s vs
    # 6.0 s warm at 2M vectors, SCALE.md r7).
    bucketed = _family_checkpoint(
        spark, sf_dir, "knn_lsh_buckets",
        lambda: _lsh_bucketed(
            tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ),
        source="embeddings",
    )
    qb = bucketed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    cand_pairs = (
        bucketed.join(
            F.broadcast(qb),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", F.col("vec_id").alias("c_id"))
        .distinct()
    )
    u = shared_unit_vectors(spark, sf_dir).select("vec_id", "unit")
    qv = u.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("a_unit")
    )
    cv = u.select(F.col("vec_id").alias("c_id"), F.col("unit").alias("b_unit"))
    scored = (
        cand_pairs.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .withColumn("cosine", F.round(F.expr(_DOT), 4))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "c_id", "cosine", "rnk")
    )


@register(
    "ext_knn_ann_recall",
    oracle="""
    SELECT 'lsh' AS method, 10 AS n_queries, true AS recall_ok
    UNION ALL
    SELECT 'ivf' AS method, 10 AS n_queries, true AS recall_ok
    """,
)
def ext_knn_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall invariant for the two ANN paths: mean recall@5 of LSH and IVF
    against the brute-force truth must clear 0.3 (both measure well above it
    on the fixtures; the bound leaves margin for data drift). This is how an
    approximate index becomes oracle-checkable: the index output itself is
    engine-specific, but its quality contract is not.

    All three top-k tables (exact truth, LSH, IVF) come from family-shared
    checkpoints - this query no longer re-plans three full ANN pipelines
    inline (it was the registry's heaviest shuffle consumer at 35 exchanges);
    it now joins three tiny (~50-row) checkpointed results.
    """
    exact = _family_checkpoint(
        spark, sf_dir, "knn_exact", lambda: ext_knn_cosine(spark, sf_dir),
        source="embeddings",
    ).select("q_id", "c_id")

    def mean_recall(approx: DataFrame, method: str) -> DataFrame:
        hit = approx.select("q_id", "c_id").withColumn("hit", F.lit(1))
        j = exact.join(hit, ["q_id", "c_id"], "left")
        per_q = j.groupBy("q_id").agg(
            (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("recall")
        )
        return per_q.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("int").alias("n_queries"),
            (F.avg("recall") >= 0.3).alias("recall_ok"),
        )

    lsh = _family_checkpoint(
        spark, sf_dir, "knn_lsh", lambda: ext_knn_lsh(spark, sf_dir),
        source="embeddings",
    )
    ivf = _family_checkpoint(
        spark, sf_dir, "knn_ivf", lambda: ext_knn_ivf(spark, sf_dir),
        source="embeddings",
    )
    return mean_recall(lsh, "lsh").unionAll(mean_recall(ivf, "ivf"))


_EMB_DEDUP_ORACLE = """
WITH n AS (
  SELECT vec_id, label,
         list_transform(
           list_transform(embedding, x -> cast(x as double)),
           x -> x / sqrt(list_sum(list_transform(
                  list_transform(embedding, e -> cast(e as double)), y -> y * y)))
         ) AS unit
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.unit, b.unit), 4) AS cosine,
       a.label AS lbl
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.unit, b.unit), 4) >= 0.4
"""


#: Target rows per similarity tile. Tile-pair cross products are computed
#: in-core (numpy), so a tile-pair's similarity matrix costs S^2 doubles
#: (~134 MB at 4096 - transient, per task) while the shuffle replicates
#: each vector ceil(block/S) times: raising S trades bounded task memory
#: for linearly less shuffle, the binding constraint at large block sizes
#: (measured: at 1000x data, S=2048 shipped ~100 GB of tile copies and
#: exhausted local spill disk; S=4096 + float32 payloads fit the 200k-vector
#: blocks at 100x but kernel-OOMed one box at 2M vectors / 218k-row blocks,
#: where S=8192 halves the copy count and fits).
_EMB_TILE_ROWS = 4096


@register("ext_dedup_embedding", oracle=_EMB_DEDUP_ORACLE)
def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (in-block pairs only
    - cross-block recall comes from the LSH variant). Threshold applies to
    the 4dp-rounded score so the cutoff is engine-stable (oracle-checkable).

    Scale shape - tile-pair block join, NOT a pair join: the naive
    label-equi-join materializes C(block,2) pair rows carrying two unit
    vectors each, which is quadratic SHUFFLE (measured at 100x: 2.0e9 pair
    rows, ~10 min on 32 cores, vs 2.0e5 at sf0.1 - a 10,000x blow-up for
    100x data). Instead each label block is hash-split into tiles of
    ~_EMB_TILE_ROWS vectors; every vector is shipped once per partner tile
    (ceil(block/S) copies, NOT block copies), and each (tile_a, tile_b)
    group computes its full similarity matrix in-core with one BLAS matmul,
    emitting only pairs that clear the threshold. Shuffle volume is
    O(vectors x tiles_per_block); the quadratic dot-product work stays
    vectorized inside workers where it belongs.

    Exactness: the BLAS matrix product is only a CANDIDATE mask (taken at
    threshold-minus-1e-9 slack, far above blas-vs-fold float divergence);
    surviving pairs get their cosine recomputed as the same left-to-right
    fold _DOT performs (dimension-at-a-time accumulation is IEEE-identical
    to the sequential sum), so scores - and the DuckDB oracle hash - are
    bit-identical to the pair-join formulation.

    Payload: tiles ship the RAW float32 embedding (half the bytes of the
    family's double unit vectors - the shuffle is this operator's binding
    cost) and normalize in-core, replaying _unit_vectors' exact math:
    float->double cast is exact, the norm accumulates dimension-at-a-time
    in the same fold order, and the elementwise divide matches the JVM's,
    so the resulting units are bit-identical to shared_unit_vectors'."""
    e = tbl(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_lbl"))
    et = (
        e.join(F.broadcast(counts), "label")
        .withColumn(
            "n_tiles",
            F.ceil(F.col("n_lbl") / F.lit(_EMB_TILE_ROWS)).cast("int"),
        )
        .withColumn(
            "tile", F.pmod(F.xxhash64("vec_id"), F.col("n_tiles")).cast("int")
        )
    )
    # Role a: this vector's tile is the LEFT tile of pairs (tile, j>=tile).
    # Role b: this vector's tile is the RIGHT tile of pairs (i<tile, tile) -
    # strict, so the diagonal pair holds each tile's rows exactly once.
    cols = ["label", "vec_id", "embedding"]
    left = et.select(
        *cols,
        F.col("tile").alias("ti"),
        F.explode(F.sequence(F.col("tile"), F.col("n_tiles") - 1)).alias("tj"),
        F.lit("a").alias("role"),
    )
    right = et.select(
        *cols,
        # filter(sequence(0, tile), x -> x < tile) is empty at tile=0;
        # sequence(0, tile-1) would count DOWN there and fabricate tiles.
        F.explode(F.expr("filter(sequence(0, tile), x -> x < tile)")).alias("ti"),
        F.col("tile").alias("tj"),
        F.lit("b").alias("role"),
    )

    def tile_pair(pdf):
        import numpy as np
        import pandas as pd

        def units(rows):
            # Bit-identical replay of _unit_vectors: exact float->double
            # cast, dimension-at-a-time norm accumulation (the fold order),
            # elementwise divide.
            emb = np.stack(rows["embedding"].to_numpy()).astype(np.float64)
            nsq = np.zeros(len(emb))
            for d in range(emb.shape[1]):
                nsq += emb[:, d] * emb[:, d]
            return emb / np.sqrt(nsq)[:, None]

        a = pdf[pdf["role"] == "a"]
        b = pdf[pdf["role"] == "b"]
        # Diagonal by KEY, not by data presence: a non-diagonal (i, j)
        # group whose tile j happens to be empty must emit nothing, not
        # re-emit tile i's intra-tile pairs (review-caught, r6 - the old
        # len(b)==0 inference duplicated the (i, i) group's output in that
        # ~n_tiles*e^-occupancy corner).
        diagonal = bool(len(pdf) and pdf["ti"].iloc[0] == pdf["tj"].iloc[0])
        if not diagonal and len(b) == 0:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": [], "lbl": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64", "lbl": "int32"})
        if len(a) == 0:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": [], "lbl": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64", "lbl": "int32"})
        ua = units(a)
        ids_a = a["vec_id"].to_numpy()
        if diagonal:
            ub, ids_b = ua, ids_a
        else:
            ub = units(b)
            ids_b = b["vec_id"].to_numpy()
        sim = ua @ ub.T
        ia, ib = np.nonzero(sim >= 0.39995 - 1e-9)  # round4(x)>=0.4 <=> x>=0.39995
        id1, id2 = ids_a[ia], ids_b[ib]
        keep = id1 < id2 if diagonal else id1 != id2  # drop self + mirror pairs
        ia, ib, id1, id2 = ia[keep], ib[keep], id1[keep], id2[keep]
        # Exact recompute in _DOT's fold order: one accumulation per
        # dimension is elementwise IEEE add, identical to the scalar fold.
        va, vb = ua[ia], ub[ib]
        acc = np.zeros(len(ia))
        for d in range(va.shape[1] if len(ia) else 0):
            acc += va[:, d] * vb[:, d]
        return pd.DataFrame(
            {
                "id_a": np.minimum(id1, id2),
                "id_b": np.maximum(id1, id2),
                "cosine": acc,
                "lbl": pdf["label"].iloc[0],
            }
        )

    return (
        left.unionByName(right)
        .groupBy("label", "ti", "tj")
        .applyInPandas(tile_pair, "id_a long, id_b long, cosine double, lbl int")
        .withColumn("cosine", F.round("cosine", 4))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine", "lbl")
    )


#: ext_dedup_embedding_lsh constants. Planes per table is the selectivity dial:
#: buckets = 2^planes per table, so occupancy ~ corpus/2^planes; tables lift
#: recall; the bucket cap is the same skew fence the text-LSH family carries
#: (a degenerate bucket can never go quadratic past cap^2). Plane count
#: SELF-SIZES from the corpus row count (catalog statistic, footer-only) -
#: a fixed default is a disk bomb at scale: the r6 1000x probe relaunched
#: without its plane override ran 2M vectors through 2^8 buckets/table
#: (~7.8k occupancy -> ~6e10 candidate pairs) and filled the 250 GB disk
#: mid-shuffle. A non-None _EMB_LSH_PLANES_PIN replaces the sizing (and
#: the generated oracle's P) - the forced-gates table pins it to exercise
#: the parameterized bucket math at a non-fixture P.
_EMB_LSH_TABLES = 8
_EMB_LSH_BUCKET_CAP = 10000
_EMB_LSH_PLANES_PIN: int | None = None
_EMB_LSH_PLANES_MAX = 24
#: Corpora at or below this row count use the fixture-regime constant P=8 -
#: the plane count baked into the generated DuckDB oracle (all oracle
#: comparisons run at <= 2k vectors, sf0.001/0.01/0.1).
_EMB_LSH_FIXTURE_ROWS = 4096
#: Above the fixture regime, size buckets to ~this occupancy: expected
#: random candidates/table ~= buckets * occ^2/2 = n*occ/2, so total
#: candidates stay O(tables * n * occ) - linear in the corpus, the only
#: posture that survives a 100x scale-up (verify-join shuffle carries two
#: 512 B unit vectors per candidate). Occupancy 2 over 4 halves that
#: volume (measured 82M raw pairs at 2M vectors/occ~4 - gaussian bucket
#: codes skew ~2.7x over Poisson) while costing near-dup recall only a
#: factor p ~= 0.99 per planted pair per table (cosine 0.999 pairs);
#: mid-cosine recall is the tables knob's job, not occupancy's.
_EMB_LSH_TARGET_OCC = 2
#: Broadcast the unit-vector table into the exact-verify joins while it
#: fits (~540 B/row at dim 64): the joins then ship no 512 B vectors
#: through a shuffle, and nothing is sorted. The SMJ alternative sorts
#: two wide streams per join - at 2M vectors that spilled ~14 GB of
#: 530 B rows to disk for a 1 GB dim table (r6 probe). Past this bound a
#: shuffled hash join keeps the sort out at one linear wide-row shuffle
#: (per-partition hash builds are table/partitions-sized, trivially
#: memory-safe). 512 MiB (~1M vectors) is the measured comfort bound:
#: TWO broadcast builds of a 1.1 GB table failed outright on a default
#: driver heap ("Not enough memory to build and broadcast", r6 probe).
_EMB_BCAST_BYTES = 512 * 1024**2


def _emb_lsh_planes_for(n_rows: int | None) -> int:
    """Planes per table for a corpus of ``n_rows`` vectors (docs above).
    An unknown row count raises rather than guessing: guessing small on an
    unreadable-footer corpus re-creates the quadratic blowup the sizing
    exists to prevent."""
    import math

    if _EMB_LSH_PLANES_PIN is not None:
        return min(_EMB_LSH_PLANES_PIN, _EMB_LSH_PLANES_MAX)
    if n_rows is None:
        raise RuntimeError(
            "ext_dedup_embedding_lsh: embeddings row count unavailable from "
            "parquet footers; refusing to guess a plane count for an "
            "unknown corpus size"
        )
    if n_rows <= _EMB_LSH_FIXTURE_ROWS:
        return 8
    return min(
        _EMB_LSH_PLANES_MAX,
        math.ceil(math.log2(n_rows / _EMB_LSH_TARGET_OCC)),
    )


def _emb_lsh_planes():
    """Seeded hyperplane bank of _EMB_LSH_PLANES_MAX planes per table (use
    sites slice the first P), ROUNDED TO 3 DECIMALS: the decimal repr of
    each coefficient is embedded verbatim in both the Spark plan and the
    DuckDB oracle SQL, and both engines parse a short decimal literal to
    the identical nearest-double, so the bucket math is cross-engine exact
    by construction (rounding costs nothing - plane direction quality does
    not depend on low-order bits). Generating the full bank keeps plane
    values independent of the adaptive P: table t, plane i is the same
    vector at every corpus size, so the fixture-P oracle and a scale-P run
    share their first 8 planes."""
    import numpy as np

    rng = np.random.RandomState(9)
    return np.round(
        rng.standard_normal((_EMB_LSH_TABLES, _EMB_LSH_PLANES_MAX, 64)), 3
    )


def _emb_lsh_oracle() -> str:
    """Generate the DuckDB oracle for ext_dedup_embedding_lsh: the SAME
    seeded-plane bucket computation (sign of dot(raw-embedding-as-double,
    plane), so no normalization enters the sign), the same per-(table,
    bucket) vec_id-ordered cap, the same candidate join and exact-cosine
    >= 0.4 verify. The oracle is generated, not approximated: every plane
    literal matches the Spark plan digit for digit.

    The oracle pins the FIXTURE-REGIME plane count (8, or the pin)
    - every oracle comparison runs at <= 2k vectors where the adaptive
    sizing resolves to exactly that; at scale-P the LSH-specific semantics
    are covered by the subset-of-exact property test instead
    (tests/test_properties.py)."""
    planes = _emb_lsh_planes()
    oracle_p = _emb_lsh_planes_for(_EMB_LSH_FIXTURE_ROWS)
    bucket_cols = []
    for t in range(_EMB_LSH_TABLES):
        bits = []
        for i in range(oracle_p):
            lits = ", ".join(repr(float(v)) for v in planes[t, i])
            bits.append(
                f"(CASE WHEN list_dot_product(emb, [{lits}]) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        bucket_cols.append(" + ".join(bits) + f" AS b{t}")
    long_form = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM s"
        for t in range(_EMB_LSH_TABLES)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS emb
  FROM embeddings
),
s AS (SELECT vec_id, {", ".join(bucket_cols)} FROM e),
m AS ({long_form}),
c AS (
  SELECT vec_id, tbl, bucket,
         row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) AS rn
  FROM m
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM c a JOIN c b ON a.tbl = b.tbl AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
  WHERE a.rn <= {_EMB_LSH_BUCKET_CAP} AND b.rn <= {_EMB_LSH_BUCKET_CAP}
),
n AS (
  SELECT vec_id,
         list_transform(
           list_transform(embedding, x -> cast(x as double)),
           x -> x / sqrt(list_sum(list_transform(
                  list_transform(embedding, e -> cast(e as double)), y -> y * y)))
         ) AS unit
  FROM embeddings
),
v AS (
  SELECT id_a, id_b, round(list_dot_product(x.unit, y.unit), 4) AS cosine
  FROM cand
  JOIN n x ON x.vec_id = id_a
  JOIN n y ON y.vec_id = id_b
)
SELECT id_a, id_b, cosine FROM v WHERE cosine >= 0.4
"""


@register("ext_dedup_embedding_lsh", oracle=_emb_lsh_oracle())
def ext_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane LSH: seeded random-hyperplane
    buckets (T tables x P planes) -> capped per-bucket candidate self-join
    -> exact-cosine verify at the same 4dp-rounded >= 0.4 contract as
    ext_dedup_embedding. This is the production route past the exact
    variant's one-box boundary (SCALE.md: kernel-OOM at 2M vectors): no
    label blocking, no all-pairs pass - candidates are corpus-wide but
    bucket-local, and recall concentrates exactly where near-dup semantics
    need it (high-cosine pairs collide with probability ~1 as the angle
    shrinks: per-plane p = 1 - theta/pi -> band p^P, union 1-(1-p^P)^T).

    Fully hash-checkable (NOT recall-luck): the oracle replicates the
    bucket computation itself - the Spark side evaluates the very same
    3-decimal plane doubles in an Arrow-batched float64 matmul, the oracle
    embeds their decimal repr as literals DuckDB parses to the identical
    double, the sign is taken on dot(raw embedding as double, plane) so
    normalization never enters the margin, and tests pin the fixture's
    minimum |dot| margin orders of magnitude above cross-engine
    summation-order divergence (so BLAS vs sequential accumulation cannot
    flip a bucket bit).
    What is verified is therefore the exact LSH semantics ("pairs sharing
    at least one seeded bucket, capped, scoring >= threshold"), the same
    contract a cluster run would ship.

    Scale shape: bucket rows are (vec_id, tbl, bucket) - vectors cross the
    wire once per table, not once per pair; the self-join is equi-keyed on
    (tbl, bucket) so AQE sizes it; the vec_id-ordered row_number cap
    (_EMB_LSH_BUCKET_CAP, 10k) bounds any degenerate bucket at cap^2
    pairs; only DISTINCT candidate pairs fetch unit
    vectors for the exact rerank, and that verify join broadcasts the
    unit-vector table while it fits (hash join past the bound - never a
    sort of 530 B-wide rows; _EMB_BCAST_BYTES). Planes per table SELF-SIZE from the
    corpus row count (footer statistic, no job): P=8 (256 buckets/table)
    in the fixture regime, ceil(log2(n/2)) above it, so bucket occupancy
    holds ~2 and candidates stay O(tables x n) at any corpus size -
    measured floors in SCALE.md r6."""
    from pyspark.sql import Window

    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    n = table_info(sf_dir, "embeddings").rows
    p = _emb_lsh_planes_for(n)

    # Arrow-vectorized bucket computation: ONE float64 BLAS matmul per
    # batch against the (64 x tables*p) plane matrix, replacing the
    # zip_with/aggregate SQL expression whose per-element interpreted
    # lambdas cost 192 s warm at 2M vectors x 152 planes vs ~15 s for
    # this path (A/B in SCALE.md r6) - here the builtin HOFs are the
    # slow path, exactly the case for an Arrow batch UDF. Sign-exact vs
    # the sequential-summation oracle by the pinned margin property:
    # every fixture's min |dot(embedding, plane)| is >= 3.9e-6, nine
    # orders above any summation-order divergence
    # (tests/test_properties.py::test_emb_lsh_sign_margin...).
    plane_mat = (
        _emb_lsh_planes()[:, :p].reshape(_EMB_LSH_TABLES * p, 64).T.copy()
    )  # (64, tables*p) float64
    pow2 = (1 << np.arange(p, dtype=np.int64)).astype(np.int32)
    n_tables = _EMB_LSH_TABLES

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def bucket_ids(emb):
        import pandas as pd

        mat = np.vstack(emb.to_numpy()).astype(np.float64)  # (B, 64)
        bits = (mat @ plane_mat) > 0  # (B, tables*p)
        codes = (
            bits.reshape(len(mat), n_tables, -1).astype(np.int32) * pow2
        ).sum(axis=2)  # (B, tables)
        return pd.Series(list(codes))

    def build_capped() -> DataFrame:
        e = tbl(spark, sf_dir, "embeddings").select(
            "vec_id", bucket_ids("embedding").alias("buckets")
        )
        m = e.select("vec_id", F.posexplode("buckets").alias("tbl", "bucket"))
        w = Window.partitionBy("tbl", "bucket").orderBy("vec_id")
        return (
            m.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _EMB_LSH_BUCKET_CAP)
            .select("vec_id", "tbl", "bucket")
        )

    # The capped bucket-membership table is deterministic per (corpus,
    # seeded planes) and is the query's whole pre-join pipeline (Arrow
    # matmul UDF + explode + per-bucket cap window - measured 1.0 s of the
    # 1.7 s warm floor at sf0.1); stage it once per (app, corpus) like the
    # postings/signature family stages instead of re-deriving it on every
    # pass. 12-byte rows, so even a billion-vector corpus stages fine.
    capped = _family_checkpoint(
        spark, sf_dir, "emb_lsh_capped", build_capped, source="embeddings"
    )
    cand = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    u = shared_unit_vectors(spark, sf_dir)
    ua = u.select(F.col("vec_id").alias("id_a"), F.col("unit").alias("a_unit"))
    ub = u.select(F.col("vec_id").alias("id_b"), F.col("unit").alias("b_unit"))
    if n is not None and n * 540 <= _EMB_BCAST_BYTES:
        # dim table fits: map-side verify, zero wide-row shuffle (_EMB_BCAST_BYTES)
        ua, ub = F.broadcast(ua), F.broadcast(ub)
    else:
        # too big to broadcast: hash join still avoids sorting 530 B rows
        ua, ub = ua.hint("shuffle_hash"), ub.hint("shuffle_hash")
    return (
        cand.join(ua, "id_a")
        .join(ub, "id_b")
        .withColumn("cosine", F.round(F.expr(_DOT), 4))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------------------------ multimodal

@register(
    "ext_multimodal_struct",
    oracle="""
    SELECT doc_id,
           strlen(text) AS n_bytes,
           md5(text) AS payload_md5,
           (n_chars % 640) AS width,
           (n_chars % 480) AS height
    FROM documents
    """,
)
def ext_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: opaque binary payload + typed metadata
    struct, feature extraction via Arrow-batched mapInPandas.

    The decode step is a STUB (no image/audio libs in this container): it
    derives deterministic features from payload bytes (byte length + md5
    digest), which keeps the whole pipeline oracle-checkable in SQL while
    exercising the real contract - binary column, metadata struct, batch
    iterator signature, output schema - that a codec swap-in would keep.
    """
    d = tbl(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
        ).alias("meta"),
    )

    def extract(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            # STUB decode: real implementation would decode payload via PIL/
            # ffmpeg here. Deterministic fake: byte length + content digest.
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len),
                    "payload_md5": pdf["payload"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "width": pdf["meta"].map(lambda m: m["width"]),
                    "height": pdf["meta"].map(lambda m: m["height"]),
                }
            )

    return media.mapInPandas(
        extract,
        schema="doc_id bigint, n_bytes int, payload_md5 string, width int, height int",
    )


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, list_id, dots): every vector's frozen-quantizer assignment
    plus its per-centroid dot array, staged once per (app, corpus).

    All IVF_K centroid dots happen in ONE float64 BLAS matmul per Arrow
    batch - the _lsh_bucketed shape (the HOF fold form was measured 192 s
    vs ~15 s at 2M vectors for the 32-plane knn bank; 8 centroids scale
    the same way). The family checkpoint means repeat consumers (probe
    side, candidate side, ext_knn_ann_recall) never re-run the UDF.
    """
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from bee_proof_spark.queries._ivf_centroids import IVF_CENTROIDS

    cent_mat = np.array(IVF_CENTROIDS, dtype=np.float64).T.copy()  # (64, K)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def ivf_dots(unit):
        import pandas as pd

        mat = np.vstack(unit.to_numpy()).astype(np.float64)  # (B, 64)
        return pd.Series(list(mat @ cent_mat))

    def build() -> DataFrame:
        e = shared_unit_vectors(spark, sf_dir)
        return e.select(
            "vec_id", ivf_dots("unit").alias("dots")
        ).select(
            "vec_id",
            "dots",
            # argmax with ties to the LOWEST cent_id (array_position finds
            # the first occurrence) - the same (dot DESC, cent_id ASC)
            # order the oracle's row_number uses.
            (F.expr("array_position(dots, array_max(dots))") - 1)
            .cast("int")
            .alias("list_id"),
        )

    return _family_checkpoint(
        spark, sf_dir, "ivf_assign", build, source="embeddings"
    )


def _knn_ivf_oracle() -> str:
    """Generated DuckDB oracle for ext_knn_ivf: the SAME frozen 3-decimal
    centroid bank (literals digit-identical to the Spark plan - the
    ext_knn_lsh plane-bank discipline applied to LEARNED centroids), the
    same argmax assignment and top-NPROBE probe selection with (dot DESC,
    cent_id ASC) tie-breaks, and the _KNN_ORACLE rerank contract. Sound
    because the minimum assignment margin (best-dot minus second-best)
    and probe margin (probe-2 minus probe-3) are pinned orders of
    magnitude above float-summation divergence on every fixture
    (tests/test_properties.py::test_ivf_assignment_margin...)."""
    from bee_proof_spark.queries._ivf_centroids import IVF_CENTROIDS, IVF_K

    dot_cols = ",\n         ".join(
        "list_dot_product(unit, ["
        + ", ".join(repr(float(v)) for v in IVF_CENTROIDS[k])
        + f"]) AS d{k}"
        for k in range(IVF_K)
    )
    long_form = "\n  UNION ALL ".join(
        f"SELECT vec_id, {k} AS cent_id, d{k} AS dot FROM d"
        for k in range(IVF_K)
    )
    return f"""
WITH n AS (
  SELECT vec_id,
         list_transform(
           list_transform(embedding, x -> cast(x as double)),
           x -> x / sqrt(list_sum(list_transform(
                  list_transform(embedding, e -> cast(e as double)), y -> y * y)))
         ) AS unit
  FROM embeddings
),
d AS (SELECT vec_id, {dot_cols} FROM n),
m AS ({long_form}),
ranked AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cent_id) AS rnk
  FROM m
),
a AS (SELECT vec_id, cent_id AS list_id FROM ranked WHERE rnk = 1),
p AS (
  SELECT vec_id AS q_id, cent_id AS probe_list
  FROM ranked WHERE vec_id < 10 AND rnk <= 2
),
cand AS (
  SELECT p.q_id, a.vec_id AS c_id
  FROM p JOIN a ON a.list_id = p.probe_list AND a.vec_id <> p.q_id
),
v AS (
  SELECT q_id, c_id, round(list_dot_product(x.unit, y.unit), 4) AS cosine
  FROM cand
  JOIN n x ON x.vec_id = q_id
  JOIN n y ON y.vec_id = c_id
),
r AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
  FROM v
)
SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 5
"""


@register("ext_knn_ivf", oracle=_knn_ivf_oracle())
def ext_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: FROZEN k-means coarse quantizer -> inverted lists keyed by
    centroid -> probe the 2 nearest lists per query -> exact cosine rerank
    inside probed lists only.

    Fully hash-checked since r8 (previously rows-only): IVF training is an
    OFFLINE step - tools/train_ivf_centroids.py runs seeded Spark ML
    KMeans (k=8, seed=42) and freezes the centroid bank to 3-decimal
    literals (_ivf_centroids.py) - and this serving path assigns against
    the frozen bank, which the generated oracle replicates digit-for-digit
    (the ext_knn_lsh discipline with learned instead of random buckets;
    measured assignment/probe margins >= 1.7e-5 on every fixture, pinned
    by test). The rerank inherits the _KNN_ORACLE 4dp contract, whose
    rounding agreement over every (query, candidate) pair ext_knn_cosine
    already certifies (IVF candidates are a subset of its all-pairs scan).

    Scale notes: train-offline/serve-frozen is exactly how production IVF
    indexes work (re-running KMeans per query would re-scan the corpus);
    assignment is one broadcast-free Arrow matmul pass staged per corpus;
    per query, candidates ~ NPROBE/k of the corpus - recall tunes via
    nprobe without touching the stored lists. Same plan shape as
    ext_knn_lsh with learned (data-adaptive) buckets; quality is
    independently bounded by ext_knn_ann_recall.
    """
    from pyspark.sql import Window

    NPROBE, TOPK = 2, 5

    assigned = _ivf_assigned(spark, sf_dir)
    qd = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.posexplode("dots").alias("cent_id", "cdot"),
    )
    wprobe = Window.partitionBy("q_id").orderBy(F.desc("cdot"), F.asc("cent_id"))
    probes = (
        qd.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= NPROBE)
        .select("q_id", F.col("cent_id").alias("probe_list"))
    )

    u = shared_unit_vectors(spark, sf_dir).select("vec_id", "unit")
    qv = u.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("a_unit")
    )
    # Each vector lives in exactly ONE list, so probe-list candidates are
    # already distinct per (q_id, c_id) - no dedup pass needed (unlike the
    # multi-table LSH union).
    cands = (
        assigned.select("vec_id", "list_id")
        .join(
            F.broadcast(probes),
            (F.col("list_id") == F.col("probe_list"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", F.col("vec_id").alias("c_id"))
    )
    scored = (
        cands.join(F.broadcast(qv), "q_id")
        .join(u.select(F.col("vec_id").alias("c_id"), F.col("unit").alias("b_unit")), "c_id")
        .withColumn("cosine", F.round(F.expr(_DOT), 4))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select("q_id", "c_id", "cosine", "rnk")
    )


@register(
    "ext_multimodal_framesample",
    oracle="""
    -- Byte semantics throughout (the Spark side slices the BINARY payload):
    -- DuckDB has no blob substring, so slice the hex expansion instead -
    -- payload byte k is hex chars [2k+1, 2k+2], a 16-byte frame is 32 chars.
    WITH m AS (
      SELECT doc_id, hex(encode(text)) AS payload_hex, (n_chars % 5 + 1) AS n_frames,
             greatest(octet_length(encode(text)) // (n_chars % 5 + 1), 1) AS step
      FROM documents
    )
    SELECT doc_id, i AS frame_idx, i * 1000 AS frame_off_ms,
           lower(substr(payload_hex, i * step * 2 + 1, 32)) AS frame_hex
    FROM m, unnest(generate_series(0, n_frames - 1)) AS t(i)
    """,
)
def ext_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: one media row fans out to N frame rows via
    mapInPandas (the video -> sampled-frames batch shape).

    The frame decode is a STUB (no av libs in container): frames are
    deterministic byte slices of the payload, hex-encoded in the output so
    the whole fan-out is oracle-checkable in SQL. Real part: the 1->N Arrow
    batch contract, per-frame metadata, and bounded batch memory (frames are
    emitted per input batch, never materialized per partition).
    """
    d = tbl(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        (F.col("n_chars") % 5 + 1).cast("int").alias("n_frames"),
    )

    def sample_frames(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_off_ms": [], "frame_hex": []}
            for doc_id, payload, n_frames in zip(
                pdf["doc_id"], pdf["payload"], pdf["n_frames"]
            ):
                step = max(len(payload) // max(int(n_frames), 1), 1)
                for i in range(int(n_frames)):
                    # STUB decode: a real impl would seek+decode via ffmpeg
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_off_ms"].append(i * 1000)
                    out["frame_hex"].append(
                        bytes(payload[i * step : i * step + 16]).hex()
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(
        sample_frames,
        schema="doc_id bigint, frame_idx int, frame_off_ms int, frame_hex string",
    )


@register(
    "ext_dedup_content",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def ext_dedup_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash exact dedup: md5 over the raw text, deterministic keeper.

    Scale notes: the shuffle key is the 16-byte digest, not the document -
    text bytes never cross the wire; group sizes are duplicate-cluster
    sizes. This is the first pass of every dedup pipeline; near-dup layers
    (minhash/simhash) run on its survivors.
    """
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "ext_incremental_dedup",
    oracle="""
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id >= 250
      AND NOT EXISTS (SELECT 1 FROM documents e
                      WHERE e.doc_id < 250 AND md5(e.text) = md5(d.text))
    """,
)
def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new batch is cleansed against the existing
    corpus by content-hash anti join (the daily-ingest shape: never
    re-deduplicate the whole corpus).

    Scale notes: only digests of the EXISTING corpus participate - at 100 TB
    the corpus side is a pre-materialized hash index (16 bytes/doc), and the
    anti join shuffles digests, not documents. Here both sides derive from
    the fixture; doc_id < 250 plays the corpus.
    """
    d = tbl(spark, sf_dir, "documents")
    digest = F.md5(F.col("text").cast("binary"))
    corpus = d.filter(F.col("doc_id") < 250).select(digest.alias("h"))
    batch = d.filter(F.col("doc_id") >= 250).select("doc_id", "lang", digest.alias("h"))
    return batch.join(corpus, "h", "left_anti").select("doc_id", "lang")


_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, cast(ceil(n_chars / 4.0) as bigint) AS est_tokens FROM documents
),
c AS (
  SELECT doc_id, lang, est_tokens,
         sum(est_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, lang, est_tokens,
       cast(floor((cum - est_tokens) / 2048) as bigint) AS pack_id
FROM c
"""


#: ext_pack_sequences' banded-prefix-sum gate.
_PACK_BAND_BYTES = 128 * 1024 * 1024


@register("ext_pack_sequences", oracle=_PACK_ORACLE)
def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents are assigned to
    ~2048-token packs per language by running-token-count binning
    (deterministic doc_id order -> exact SQL oracle).

    Scale notes: ``lang`` is a HANDFUL of values, so the plain running-sum
    window caps parallelism at the language count on any cluster size
    (every lang's rows sort in one task). Above a corpus-size gate the
    running sum is computed as a banded prefix sum instead: rows band by
    doc_id range, the per-(lang, band) token totals prefix-sum in a
    broadcastable table, and the full-data window runs within
    (lang, band) at langs x bands parallelism - pure integer arithmetic,
    bit-identical to the plain window (tested at the gate boundary).
    True first-fit bin packing is order-dependent anyway - contiguous
    binning is the variant that parallelizes, wasting at most one
    document's overhang per bin.
    """
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    toks = F.ceil(F.col("n_chars") / 4.0).cast("bigint")
    pack = lambda cum: F.floor((cum - toks) / 2048).cast("bigint").alias("pack_id")  # noqa: E731
    if table_info(sf_dir, "documents").bytes < _PACK_BAND_BYTES:
        w = (
            Window.partitionBy("lang")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return d.select(
            "doc_id", "lang", toks.alias("est_tokens"), pack(F.sum(toks).over(w))
        )
    nbands = 256
    stats = d.groupBy("lang").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(nbands))
    banded = d.join(F.broadcast(stats), "lang").withColumn(
        "band",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(F.lit(nbands - 1), F.floor((F.col("doc_id") - F.col("lo")) / width))
        )
        .cast("int"),
    )
    band_sums = banded.groupBy("lang", "band").agg(F.sum(toks).alias("tok_sum"))
    w_pre = (
        Window.partitionBy("lang")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = band_sums.select(
        "lang", "band", F.coalesce(F.sum("tok_sum").over(w_pre), F.lit(0)).alias("offset")
    )
    w_band = (
        Window.partitionBy("lang", "band")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("offset") + F.sum(toks).over(w_band)
    return banded.join(F.broadcast(offsets), ["lang", "band"]).select(
        "doc_id", "lang", toks.alias("est_tokens"), pack(cum)
    )


CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


@register(
    "ext_chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    c AS (
      SELECT doc_id, len(words) AS n_words,
             unnest(generate_series(0,
               greatest(cast(ceil((len(words) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) as int), 0)
             )) AS chunk_idx
      FROM t
    )
    SELECT c.doc_id, chunk_idx,
           least(n_words - chunk_idx * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS chunk_tokens,
           array_to_string(
             t.words[(chunk_idx * {CHUNK_STRIDE} + 1):(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})],
             ' ') AS chunk_text
    FROM c JOIN t USING (doc_id)
    """,
)
def ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training: fixed CHUNK_TOKENS(=40)-token windows
    with a 10-token overlap (sliding stride CHUNK_STRIDE=30), the standard
    pre-tokenization segmentation step.

    Scale shape: pure JVM array algebra - one sequence()/explode fan-out per
    document sized by its own length (no cross-row state, no shuffle at
    all: chunking is embarrassingly parallel over the corpus scan). Token =
    whitespace word here; a BPE tokenizer swaps into the same plan as a
    pandas UDF without changing the fan-out.
    """
    d = tbl(spark, sf_dir, "documents")
    w = _words(d).select("doc_id", "words", F.size("words").alias("n_words"))
    n_chunks_minus1 = F.greatest(
        F.ceil((F.col("n_words") - CHUNK_TOKENS) / float(CHUNK_STRIDE)).cast("int"),
        F.lit(0),
    )
    chunks = w.select(
        "doc_id",
        "n_words",
        "words",
        F.explode(F.sequence(F.lit(0), n_chunks_minus1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.least(F.col("n_words") - start, F.lit(CHUNK_TOKENS)).alias("chunk_tokens"),
        F.concat_ws(
            " ", F.slice("words", start + 1, CHUNK_TOKENS)
        ).alias("chunk_text"),
    )


# Decontamination: flag training docs sharing 3-gram shingles with a held-out
# eval set (doc_id < 50 plays the benchmark). A named step in every LLM data
# pipeline: eval contamination silently inflates benchmark scores.
_DECON_ORACLE = f"""
WITH sh0 AS ({_SH0_SQL}),
eval_sh AS (SELECT DISTINCT shingle FROM sh0 WHERE doc_id < 50),
train AS (SELECT doc_id, shingle FROM sh0 WHERE doc_id >= 50),
tsizes AS (SELECT doc_id, count(*) AS n FROM train GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, count(*) AS n_shared
  FROM train t JOIN eval_sh e ON t.shingle = e.shingle
  GROUP BY t.doc_id
)
SELECT s.doc_id,
       coalesce(n_shared, 0) AS n_shared,
       round(coalesce(n_shared, 0) / s.n, 4) AS overlap_frac,
       (coalesce(n_shared, 0) / s.n >= 0.3) AS contaminated
FROM tsizes s LEFT JOIN hits USING (doc_id)
"""


@register("ext_decontaminate", oracle=_DECON_ORACLE)
def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: for every training document, the fraction
    of its 3-gram shingles that appear anywhere in the held-out eval set
    (doc_id < 50 here); >= 30% shared marks contamination.

    Scale shape: the eval shingle set is TINY relative to the corpus
    (benchmarks are small) - it broadcasts, so the scan over training
    postings never shuffles on the join; the only shuffle is the per-doc
    count aggregation. This is the contains-any-ngram join every
    decontamination pass runs before training.

    One pass over the training postings (r15; guide section 1.2 step 1 -
    fewer passes): the per-doc size and the per-doc eval-hit count come
    from a SINGLE aggregation behind a LEFT broadcast join against the
    (distinct, so at-most-one-match, never row-multiplying) eval shingle
    set - ``count(hit)`` counts matches, unmatched rows count only toward
    ``n``. The previous form scanned the postings twice (size agg + inner
    hit join/agg) and re-joined the two aggregates per doc; this halves
    the dominant pass at corpus scale and removes a join + an exchange.
    Measured (sf0.1, local[32], interleaved ABBA A/B, min-of-4 warm,
    identical 4950 rows): 0.740 -> 0.659 s floor. The r14 bench
    "regression" on this query (0.462 -> 0.749) was adjudicated this
    round as REAL and attributable to the r14 family-spread's 32-way
    checkpoint layout (same rows, 1-partition copy: 0.357 vs 0.674 -
    fixture-only per-task overhead the layout gate removes at scale;
    family net strongly positive - SCALE.md r15).
    """
    # The family postings checkpoint (one corpus explode per app) feeds
    # both branches below; inline _shingle_postings would re-explode the
    # corpus once per subtree (eval branch, per-doc aggregation).
    sh0 = shared_shingle_postings(spark, sf_dir)
    eval_sh = (
        sh0.filter(F.col("doc_id") < 50).select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh0.filter(F.col("doc_id") >= 50)
    per_doc = (
        train.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.count("hit").alias("n_shared"))
    )
    frac = F.col("n_shared") / F.col("n")
    return per_doc.select(
        "doc_id",
        "n_shared",
        F.round(frac, 4).alias("overlap_frac"),
        (frac >= 0.3).alias("contaminated"),
    )


@register(
    "ext_dedup_keep_best",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars,
             md5(text) AS content_key,
             round(least(n_chars / 500.0, 1.0), 4) AS quality
      FROM documents
    )
    SELECT content_key, doc_id, lang, quality
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY content_key ORDER BY quality DESC, doc_id
      ) AS rn FROM scored
    ) WHERE rn = 1
    """,
)
def ext_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-policy dedup: within each exact-content group keep the
    HIGHEST-quality document (quality desc, doc_id tie-break) instead of the
    arbitrary/min-id one - the policy knob real pipelines tune.

    Scale shape: one window shuffle on the 16-byte content digest;
    WindowGroupLimit prunes each group to its top row before the filter.
    """
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("content_key"),
        F.round(F.least(F.col("n_chars") / 500.0, F.lit(1.0)), 4).alias("quality"),
    )
    w = Window.partitionBy("content_key").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("content_key", "doc_id", "lang", "quality")
    )


@register("ext_knn_cosine_arrow", oracle=_KNN_ORACLE)
def ext_knn_cosine_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5, Arrow path: the query matrix is a tiny
    broadcast numpy array; each corpus Arrow batch scores against it with
    one BLAS matmul inside mapInPandas.

    Same math as ext_knn_cosine (tests assert the outputs agree) - this is
    the vectorized-Python alternative for dense linear algebra, where BLAS
    beats interpreted JVM higher-order functions. Per-batch memory is
    (batch x 10) scores; the corpus never concentrates anywhere.
    """
    import numpy as np
    from pyspark.sql import Window

    e = shared_unit_vectors(spark, sf_dir).select("vec_id", "unit")
    # driver-ok: 10-row query-vector fetch, broadcast to executors
    q_rows = e.filter(F.col("vec_id") < 10).orderBy("vec_id").collect()  # driver-ok: tiny query set
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_mat = np.array([r["unit"] for r in q_rows])  # (10, 64), unit-norm

    def score(batches):
        import pandas as pd

        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy()
            c_mat = np.vstack(pdf["unit"].to_numpy())  # (batch, 64), unit-norm
            sims = c_mat @ q_mat.T  # (batch, n_queries) one BLAS call
            n_b, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, n_b),
                    "c_id": np.tile(c_ids, n_q),
                    "cosine": sims.T.ravel(),
                }
            )

    scored = e.mapInPandas(
        score, schema="q_id bigint, c_id bigint, cosine double"
    ).withColumn("cosine", F.round("cosine", 4))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "c_id", "cosine", "rnk")
    )
