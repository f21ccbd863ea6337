"""The remaining two near-dup flavours as first-class queries:
char-n-gram Jaccard (exact verify over LSH candidates) and
embedding-cosine near-dup (bucketed pair search).

Together with ``dedup_exact`` (dual fingerprint), ``dedup_minhash``
(word-shingle MinHash-LSH) and ``dedup_simhash`` (bit-sketch
pigeonhole), this completes the dedup family: every flavour is its own
``queries()`` entry with a full value-hash oracle, and none of them
contains a cross join — candidates always come from an equi-join on a
sketch key.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommender_systems_spark.dedup.minhash import (
    LSH_BANDS,
    LSH_ROWS,
    SHINGLE_N,
    band_key,
    minhash_struct_pandas,
    shingle_hashes_pandas,
    sql_band_key,
    sql_char_ngrams,
    sql_minhash_signature,
    sql_shingle_hashes,
    sql_shingles,
    sql_tokens,
)
from recommender_systems_spark.functions.vector import dot_product
from recommender_systems_spark.io import materialize, spread_scan, table_rows
from recommender_systems_spark.registry import _t, register
from recommender_systems_spark.similarity.ann import (
    adaptive_bits,
    bucket_keys,
    sql_adaptive_bits,
    sql_bucket_keys,
)

NGRAM_N = 5
COSINE_THRESHOLD = 0.35

_BANDS_SQL = " UNION ALL ".join(
    f"(SELECT doc_id, {b} AS band, {sql_band_key('sig', b)} AS key FROM sig)"
    for b in range(LSH_BANDS)
)

# Shared signature-index CTEs (sh → hs → sig → bands) — the SQL mirror
# of `_signature_table` + `_band_table`.
_SIG_CTES = f"""sh AS (
        SELECT doc_id, {sql_shingles(sql_tokens('text'))} AS shingles,
               list_distinct({sql_char_ngrams('text', NGRAM_N)}) AS grams
        FROM documents
    ),
    hs AS (SELECT doc_id, grams, {sql_shingle_hashes('shingles')} AS hs FROM sh),
    sig AS (SELECT doc_id, grams, {sql_minhash_signature('hs')} AS sig FROM hs),
    bands AS ({_BANDS_SQL})"""

_FUNNEL_SQL = f"""
    WITH {_SIG_CTES},
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id
    )
"""

_NGRAM_SQL = f"""
    {_FUNNEL_SQL}
    SELECT p.doc_a, p.doc_b,
           round(CAST(len(list_distinct(list_intersect(ga.grams, gb.grams)))
                      AS DOUBLE)
                 / (len(ga.grams) + len(gb.grams)
                    - len(list_distinct(list_intersect(ga.grams, gb.grams)))),
                 5) AS ngram_jaccard
    FROM pairs p
    JOIN sig ga ON ga.doc_id = p.doc_a
    JOIN sig gb ON gb.doc_id = p.doc_b
"""


def _signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, grams, sig) signature index — built once
    per corpus identity, read back by every funnel consumer (jaccard,
    containment, BLEU, incremental ingest)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Arrow kernel: value-identical to array_distinct(char_ngrams(text))
    # + minhash_signature(shingle_hashes(text)) — see
    # dedup.minhash.minhash_struct_pandas. The signature+gram table is
    # the build-once artifact of a dedup pipeline (deterministic in the
    # corpus), so it is materialised to the cache dir on first use and
    # read back by every consumer (jaccard, containment, BLEU) — the
    # kernel pass was ~1 s of every funnel query at sf0.1, and at scale
    # this is exactly the persisted signature index a 100 TB dedup run
    # maintains next to the corpus.
    from recommender_systems_spark.io import cache_path, cache_ready

    # Prefix bakes in EVERY constant the persisted columns depend on:
    # the char-gram width (grams column) AND the MinHash/LSH geometry
    # (sig column = LSH_BANDS×LSH_ROWS hashes over SHINGLE_N-word
    # shingles) — a geometry edit must miss the cache, not serve stale
    # signatures to the whole funnel (ADVICE r12).
    sh_dir = cache_path(
        f"lsh_grams{NGRAM_N}b{LSH_BANDS}x{LSH_ROWS}s{SHINGLE_N}",
        sf_dir,
        "documents",
    )
    if not cache_ready(sh_dir):
        (
            docs.select(
                "doc_id",
                minhash_struct_pandas(
                    F.col("text"), char_gram_n=NGRAM_N
                ).alias("s"),
            )
            .select(
                "doc_id",
                F.col("s.da").alias("grams"),
                F.col("s.sig").alias("sig"),
            )
            .write.mode("overwrite")
            .parquet(sh_dir)
        )
    return spark.read.parquet(sh_dir)


def _band_table(sh: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows — LSH_BANDS per doc — from a signature
    table; the equi-join key side of every candidate generator."""
    return sh.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(F.col("sig"), b) for b in range(LSH_BANDS)])
        ).alias("band", "key"),
    )


def _lsh_candidate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared two-stage funnel front end: MinHash-LSH candidate pairs
    (band equi-join, doc_a < doc_b) joined back to both docs' distinct
    char-n-gram sets — the input to any exact set measure (Jaccard,
    containment)."""
    sh = _signature_table(spark, sf_dir)
    bands = _band_table(sh)
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb")),
        "doc_b",
    )


@register("dedup_ngram_jaccard", _NGRAM_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup flavour: exact char-5-gram Jaccard, verified on
    MinHash-LSH candidates only — the standard two-stage funnel
    (sketch candidates → exact measure). Character grams catch
    near-dups that word shingles miss (whitespace/punctuation edits);
    the candidate set is the band equi-join, so the exact O(|gramsets|)
    comparison runs on ~25 pairs, not 125k."""
    ver = _lsh_candidate_grams(spark, sf_dir)
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    return ver.select(
        "doc_a",
        "doc_b",
        F.round(
            inter / (F.size("ga") + F.size("gb") - inter), 5
        ).alias("ngram_jaccard"),
    )


# Incremental-ingest near-dup gate: jaccard at or above this (on the
# ROUNDED value, the house verdict rule) marks the incoming doc a
# near-duplicate of the existing corpus.
INGEST_DUP_THRESHOLD = 0.5
# Deterministic batch selector: docs whose md5 first hex digit is
# 0..3 (~1/4 of the corpus) play the "newly arriving batch"; the rest
# are the already-indexed corpus. Engine-portable (identical md5 on
# CAST(doc_id AS VARCHAR) both sides).
_INGEST_BATCH_HEX = ("0", "1", "2", "3")

_INGEST_SQL = f"""
    WITH {_SIG_CTES},
    nb AS (SELECT * FROM bands
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN {_INGEST_BATCH_HEX!r}),
    cb AS (SELECT * FROM bands
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 NOT IN {_INGEST_BATCH_HEX!r}),
    pairs AS (
        SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
        FROM nb n JOIN cb c ON n.band = c.band AND n.key = c.key
    )
    SELECT p.new_doc, p.corpus_doc,
           round(CAST(len(list_distinct(list_intersect(ga.grams, gb.grams)))
                      AS DOUBLE)
                 / (len(ga.grams) + len(gb.grams)
                    - len(list_distinct(list_intersect(ga.grams, gb.grams)))),
                 5) AS ngram_jaccard,
           round(CAST(len(list_distinct(list_intersect(ga.grams, gb.grams)))
                      AS DOUBLE)
                 / (len(ga.grams) + len(gb.grams)
                    - len(list_distinct(list_intersect(ga.grams, gb.grams)))),
                 5) >= {INGEST_DUP_THRESHOLD} AS is_dup
    FROM pairs p
    JOIN sig ga ON ga.doc_id = p.new_doc
    JOIN sig gb ON gb.doc_id = p.corpus_doc
"""


@register("dedup_ingest_neardup", _INGEST_SQL)
def dedup_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest NEAR-duplicate check: an arriving batch of
    documents is screened against the already-indexed corpus via the
    persisted LSH signature index — the near-dup companion of the
    exact-fingerprint ``t_incremental_ingest``, and the shape a
    continuously-growing 100 TB corpus actually runs (new data is a
    sliver; re-deduplicating the whole corpus per ingest is the thing
    this avoids).

    Spark shape: the batch's (band, key) rows equi-join the CORPUS
    side of the persisted index only — candidate work is
    |batch|×BANDS keys probing the corpus index, never corpus×corpus —
    then the exact char-n-gram Jaccard verifies candidates and the
    rounded value drives the keep/drop verdict. At scale the corpus
    band table is the standing index (bucketed on (band, key)); the
    batch side is small enough to broadcast, making ingest screening a
    map-side join against index buckets. The batch split here is a
    deterministic md5 quarter of `documents` so both engines screen
    the identical batch."""
    sh = _signature_table(spark, sf_dir)
    is_batch = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        *_INGEST_BATCH_HEX
    )
    nb = _band_table(sh.filter(is_batch))
    cb = _band_table(sh.filter(~is_batch))
    pairs = (
        nb.alias("n")
        .join(
            cb.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.key") == F.col("c.key")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    ver = pairs.join(
        sh.select(F.col("doc_id").alias("new_doc"), F.col("grams").alias("ga")),
        "new_doc",
    ).join(
        sh.select(F.col("doc_id").alias("corpus_doc"), F.col("grams").alias("gb")),
        "corpus_doc",
    )
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    jac = F.round(inter / (F.size("ga") + F.size("gb") - inter), 5)
    return ver.select(
        "new_doc",
        "corpus_doc",
        jac.alias("ngram_jaccard"),
        (jac >= INGEST_DUP_THRESHOLD).alias("is_dup"),
    )


CONTAINMENT_THRESHOLD = 0.8

_CONTAIN_SQL = f"""
    {_FUNNEL_SQL}
    SELECT p.doc_a, p.doc_b,
           round(CAST(len(list_distinct(list_intersect(ga.grams, gb.grams)))
                      AS DOUBLE) / greatest(len(ga.grams), 1), 5)
               AS containment_ab,
           round(CAST(len(list_distinct(list_intersect(ga.grams, gb.grams)))
                      AS DOUBLE) / greatest(len(gb.grams), 1), 5)
               AS containment_ba,
           (greatest(
               CAST(len(list_distinct(list_intersect(ga.grams, gb.grams)))
                    AS DOUBLE) / greatest(len(ga.grams), 1),
               CAST(len(list_distinct(list_intersect(ga.grams, gb.grams)))
                    AS DOUBLE) / greatest(len(gb.grams), 1))
            >= {CONTAINMENT_THRESHOLD}) AS is_subdup
    FROM pairs p
    JOIN sig ga ON ga.doc_id = p.doc_a
    JOIN sig gb ON gb.doc_id = p.doc_b
"""


@register("dedup_containment", _CONTAIN_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup flavour: DIRECTED n-gram containment C(A→B) =
    |A∩B| / |A| on the same LSH candidate pairs as
    dedup_ngram_jaccard. Containment catches sub-document duplication
    (a short doc embedded verbatim in a long one) that symmetric
    Jaccard dilutes below threshold — the Broder distinction the
    curation literature leans on for boilerplate/quote removal.

    Scale shape: identical to the Jaccard funnel (shared
    `_lsh_candidate_grams`) — candidates from the band equi-join, the
    exact set measure only on candidates; both directions come from
    ONE intersection per pair."""
    ver = _lsh_candidate_grams(spark, sf_dir)
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    c_ab = inter / F.greatest(F.size("ga"), F.lit(1))
    c_ba = inter / F.greatest(F.size("gb"), F.lit(1))
    return ver.select(
        "doc_a",
        "doc_b",
        F.round(c_ab, 5).alias("containment_ab"),
        F.round(c_ba, 5).alias("containment_ba"),
        (F.greatest(c_ab, c_ba) >= CONTAINMENT_THRESHOLD).alias("is_subdup"),
    )


_EMB_COS_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               {sql_bucket_keys('CAST(embedding AS DOUBLE[])',
                                sql_adaptive_bits())} AS keys
        FROM embeddings
    ),
    eb AS (SELECT vec_id, unnest(keys) AS key FROM e),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM eb a JOIN eb b ON a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 5) AS cos_sim
    FROM pairs p
    JOIN e a ON a.vec_id = p.vec_a
    JOIN e b ON b.vec_id = p.vec_b
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= {COSINE_THRESHOLD}
"""


@register("dedup_embedding_cosine", _EMB_COS_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup flavour: embedding-cosine — semantically-near pairs
    (cos ≥ 0.35) found WITHOUT an all-pairs product: candidates share
    at least one multi-table hyperplane bucket (similarity.ann), exact
    cosine filters the candidates. Cosine-close vectors agree on
    hyperplane signs with high probability, so recall concentrates
    exactly where near-dup detection needs it; N_TABLES unions raise it
    at the same plan shape.

    Scale shape: the key explode carries (int, long) rows only; pairs
    are deduped across tables BEFORE the vectors join back, so each
    candidate pair pays exactly one dot product + one divide. Norms are
    computed ONCE per vector (not per pair) — ‖a‖ is the same double
    either way, so cos = dot/(‖a‖·‖b‖) stays bit-identical to the
    oracle's per-pair sqrt form. The join-backs broadcast here (the
    sketch table is dimension-sized at sf0.1); at 100 TB they become
    ordinary shuffle joins on vec_id with the same plan shape."""
    from recommender_systems_spark.functions.vector import l2_norm

    src = _t(spark, sf_dir, "embeddings")
    n_vec = table_rows(sf_dir, "embeddings")  # footer metadata, no Spark job
    bits = adaptive_bits(n_vec)
    e = (
        src
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id", "v", l2_norm("v").alias("nrm"),
            bucket_keys("v", bits).alias("keys"),
        )
        .transform(materialize, sf_dir)
    )
    eb = e.select("vec_id", F.explode("keys").alias("key"))
    pairs = (
        eb.alias("a")
        .join(
            eb.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # Past ~50k vectors the sketch table stops being broadcast-sized
    # (50k × 64 doubles ≈ 26 MB); the hint drops and the join-backs
    # become ordinary shuffle joins on vec_id — same plan shape.
    hint = F.broadcast if n_vec <= 50_000 else (lambda df: df)
    scored = (
        pairs.join(
            hint(
                e.select(
                    F.col("vec_id").alias("vec_a"),
                    F.col("v").alias("va"),
                    F.col("nrm").alias("na"),
                )
            ),
            "vec_a",
        )
        .join(
            hint(
                e.select(
                    F.col("vec_id").alias("vec_b"),
                    F.col("v").alias("vb"),
                    F.col("nrm").alias("nb"),
                )
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            (dot_product("va", "vb") / (F.col("na") * F.col("nb"))).alias("cos_raw"),
        )
    )
    return (
        scored.filter(F.col("cos_raw") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 5).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster-bounded cosine pruning
# ---------------------------------------------------------------------------

SEM_K = 8  # floor on the cluster count (tiny-corpus guard)
SEM_TAU = 0.35

_SEMDEDUP_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM e
          WHERE vec_id < (SELECT greatest({SEM_K},
                              CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM e)),
    s AS (
        SELECT e.vec_id, c.cid,
               list_dot_product(c.cv, c.cv)
               - 2 * list_dot_product(e.v, c.cv) AS s
        FROM e CROSS JOIN c
    ),
    a AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s, cid) AS rn
            FROM s)
        WHERE rn = 1
    ),
    dups AS (
        SELECT DISTINCT pb.vec_id
        FROM a pa
        JOIN a pb ON pa.cid = pb.cid AND pa.vec_id < pb.vec_id
        JOIN e ea ON ea.vec_id = pa.vec_id
        JOIN e eb ON eb.vec_id = pb.vec_id
        WHERE list_dot_product(ea.v, eb.v)
              / (sqrt(list_dot_product(ea.v, ea.v))
                 * sqrt(list_dot_product(eb.v, eb.v))) >= {SEM_TAU}
    )
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""


@register("dedup_semantic", _SEMDEDUP_SQL)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    assign every embedding to its nearest codebook centroid, then prune
    cosine-near pairs WITHIN each cluster only — the cluster assignment
    bounds the quadratic comparison, replacing the corpus-wide all-pairs
    product with K independent within-cluster joins. Keeps the
    lowest-id member of every near-pair (deterministic stand-in for the
    paper's keep-farthest-from-centroid rule).

    Codebook = the m_kmeans init (vec_id < K) kept as a TABLE, not
    driver state: assignment is a K-row broadcast nested-loop scoring
    + a min-struct aggregate on vec_id (distance rank via
    |c|^2 - 2*v.c, constant |v|^2 dropped). K actually GROWS with the
    corpus — K = max({SEM_K}, ceil(sqrt(N))), the SemDeDup convention
    (computed identically in both engines: IEEE sqrt is correctly
    rounded) — so total pair work is N²/2K ≈ N^1.5/2, the paper's
    balanced shape, NOT the N²/constant a fixed K degrades to
    (measured 20.7x at a 10x tiling before this derivation; 5x after).
    At 100 TB the brute-force assignment swaps for the IVF cell
    assignment (similarity.ann) at the same downstream plan; the
    within-cluster self-join is an equi-join on cid that AQE
    skew-splits if a cluster runs hot, and norms are computed once per
    vector, never per pair."""
    from recommender_systems_spark.functions.vector import l2_norm

    e = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nrm", l2_norm("v"))
        # consumed by centroid scan + assignment + pair join
        .transform(materialize, sf_dir)
    )
    n_vecs = table_rows(sf_dir, "embeddings")  # 1:1 with e; footer metadata
    # isqrt(n-1)+1 == DuckDB's ceil(sqrt(n)) exactly for n <= 2^52
    # (~4.5e15 vectors; first divergence at 2^52+1) — pinned by
    # tests/test_new_ops.py::test_ceil_sqrt_isqrt_agreement.
    k = max(SEM_K, math.isqrt(max(n_vecs - 1, 0)) + 1 if n_vecs else SEM_K)
    cents = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assigned = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(
                (
                    dot_product("cv", "cv") - F.lit(2.0) * dot_product("v", "cv")
                ).alias("s"),
                F.col("cid").alias("cid"),
            ).alias("sc"),
        )
        .groupBy("vec_id")
        .agg(F.min("sc").getField("cid").alias("cid"))
    )
    members = assigned.join(e, "vec_id")  # (vec_id, cid, v, nrm)
    pairs = (
        members.alias("a")
        .join(
            members.alias("b"),
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            dot_product("a.v", "b.v") / (F.col("a.nrm") * F.col("b.nrm"))
            >= F.lit(SEM_TAU)
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(pairs.withColumn("__dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cluster"),
            F.when(F.col("__dup").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-span detection (exact-substring dedup at n-gram granularity)
# ---------------------------------------------------------------------------

SPAN_N = 4

_SPAN_SQL = f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens('text')} AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct({sql_shingle_hashes(sql_shingles('t', SPAN_N))})
                   AS hs
        FROM toks
    ),
    spans AS (SELECT doc_id, unnest(hs) AS fp FROM sh),
    freq AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY fp),
    per_doc AS (
        SELECT s.doc_id,
               COUNT(*) AS n_spans,
               SUM(CASE WHEN q.nd >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
        FROM spans s JOIN freq q USING (fp)
        GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
           round(CAST(n_dup_spans AS DOUBLE) / n_spans, 5) AS dup_span_ratio
    FROM per_doc
"""


@register("dedup_spans", _SPAN_SQL)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection — the n-gram-granular approximation of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): every
    distinct word {SPAN_N}-gram of a document is fingerprinted,
    fingerprints are counted corpus-wide, and each document reports how
    many of its distinct spans also occur in at least one OTHER
    document — the signal the paper's suffix-array pass extracts, at
    shuffle-join cost instead of a global suffix array. (Distinct
    semantics: shared-with-others is a per-gram set property, so
    within-doc multiplicity adds noise, not signal.)

    Scale shape: shingle hashing runs in the Arrow-vectorised kernel
    shared with the contamination check (``shingle_hashes_pandas`` —
    the interpreted-HOF fold measured ~5x slower per scan: nested
    higher-order functions never enter whole-stage codegen); after the
    in-scan hashing, only (doc_id, fp) pairs ride the
    shuffles — an 8-byte rolling hash per span, NEVER the text.
    Corpus-wide frequency is one hash aggregate with map-side partial
    counting; the flag-back is an equi-join on fp. Boilerplate spans
    (the skew risk — a license header shared by millions of docs) cap
    out harmlessly: freq is pre-aggregated per fp before the join, so
    the hot key carries one row on the build side and AQE skew-splits
    the probe side."""
    spans = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(shingle_hashes_pandas(F.col("text"), SPAN_N)).alias("fp"),
        )
        .transform(materialize, sf_dir)  # consumed by the freq agg and the flag join
    )
    freq = spans.groupBy("fp").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        spans.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 5
            ).alias("dup_span_ratio"),
        )
    )


_SWEEP_SQL = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               {sql_bucket_keys('CAST(embedding AS DOUBLE[])',
                                sql_adaptive_bits())} AS keys
        FROM embeddings
    ),
    eb AS (SELECT vec_id, unnest(keys) AS key FROM e),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM eb a JOIN eb b ON a.key = b.key AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 5) AS cos
        FROM pairs p
        JOIN e a ON a.vec_id = p.vec_a
        JOIN e b ON b.vec_id = p.vec_b
    )
    SELECT CAST(floor(cos * 10) / 10 AS DOUBLE) AS threshold_bin,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM sims GROUP BY 1
"""


@register("dedup_threshold_sweep", _SWEEP_SQL)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning in ONE pass: the cosine histogram
    (0.1-wide bins) of every LSH candidate pair — the sweep an
    operator runs before fixing the dedup threshold, because the right
    cut sits at the valley between the near-dup mode and the
    background mode. Scanning per candidate threshold would re-run the
    candidate join N times; binning runs it once.

    Scale shape: same bucketed candidate generation as
    dedup_embedding_cosine (equi-join, no all-pairs), one extra
    digit-sized aggregate. Norms hoist to ONE fold per VECTOR (the
    dedup_embedding_cosine pattern — ‖a‖ is the same double either
    way, so cos = dot/(‖a‖·‖b‖) stays bit-identical to the oracle's
    per-pair sqrt form), leaving exactly one 64-term fold per
    candidate pair; the vector join-backs broadcast the
    dimension-sized sketch table. Bin edges come from the 5dp-ROUNDED
    cosine so bin membership can't flip between engines."""
    from recommender_systems_spark.functions.vector import l2_norm

    src = _t(spark, sf_dir, "embeddings")
    n_vec = table_rows(sf_dir, "embeddings")
    e = (
        src
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id", "v", l2_norm("v").alias("nrm"),
            bucket_keys("v", adaptive_bits(n_vec)).alias("keys"),
        )
        .transform(materialize, sf_dir)
    )
    eb = e.select("vec_id", F.explode("keys").alias("key"))
    pairs = (
        eb.alias("a")
        .join(
            eb.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("xa"),
        F.col("nrm").alias("nx"),
    )
    vb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("xb"),
        F.col("nrm").alias("ny"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("xa"), F.col("xb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    hint = F.broadcast if n_vec <= 50_000 else (lambda df: df)
    sims = (
        pairs.join(hint(va), "vec_a")
        .join(hint(vb), "vec_b")
        .select(F.round(dot / (F.col("nx") * F.col("ny")), 5).alias("cos"))
    )
    return sims.groupBy(
        (F.floor(F.col("cos") * 10) / 10).cast("double").alias("threshold_bin")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# Winnowing fingerprint overlap (MOSS local fingerprinting)
# ---------------------------------------------------------------------------

WINNOW_W = 5       # window width: density ~2/(w+1), guarantee length w
WINNOW_FP_CAP = 64  # boilerplate cap: fingerprints in more docs don't pair
WINNOW_TOPK = 100

_WINNOW_SQL = f"""
    WITH hs AS (
        SELECT doc_id,
               {sql_shingle_hashes(sql_shingles('t', SPAN_N))} AS h
        FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
    ),
    fp AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(h) - {WINNOW_W - 1}, 1) + 1),
                   j -> list_min(h[j:j+{WINNOW_W - 1}]))) AS fps
        FROM hs
    ),
    e AS (SELECT doc_id, unnest(fps) AS f FROM fp),
    freq AS (SELECT f FROM e GROUP BY f
             HAVING count(*) >= 2 AND count(*) <= {WINNOW_FP_CAP}),
    shared AS (SELECT e.doc_id, e.f FROM e JOIN freq USING (f)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM shared a JOIN shared b
          ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS nf FROM fp)
    SELECT p.doc_a, p.doc_b, p.shared_fps,
           round(CAST(p.shared_fps AS DOUBLE) / least(sa.nf, sb.nf), 5)
               AS overlap
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    ORDER BY p.shared_fps DESC, p.doc_a, p.doc_b
    LIMIT {WINNOW_TOPK}
"""


@register("t_winnowing", _WINNOW_SQL)
def t_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (Schleimer-Wilkerson-Aiken 2003 —
    the MOSS plagiarism/contamination detector): each document keeps
    the DISTINCT minima of every {WINNOW_W}-window of consecutive
    word-{SPAN_N}-gram rolling hashes (~2/(w+1) of positions, with the
    guarantee that any shared run of w consecutive grams produces a
    shared fingerprint), then document pairs are ranked by shared
    fingerprint count with the overlap coefficient against the smaller
    set. Positional scheme — the complement to MinHash (random
    signature, whole-doc similarity) and dedup_spans (ALL grams,
    per-doc counts): winnowing finds LOCAL copied passages at a
    sublinear stored-fingerprint budget.

    Scale shape: one Arrow kernel pass computes the fingerprint set
    per doc (checkpointed — two consumers: sizes + explode); pairs
    come from an equi-join on fingerprint value with boilerplate caps
    (a fingerprint in > {WINNOW_FP_CAP} docs — a license header —
    never pairs), so candidate work is Σ c_f² over capped frequencies,
    not N². Final ranking is TakeOrderedAndProject with a total
    tie-break."""
    from recommender_systems_spark.dedup.minhash import (
        winnow_fingerprints_pandas,
    )

    # The Arrow winnowing kernel runs in the scan stage — one task on
    # the local single-row-group parquet (round-14); spread first,
    # no-op at scale.
    docs = (
        spread_scan(
            _t(spark, sf_dir, "documents").select("doc_id", "text"),
            sf_dir, "documents",
        )
        .select(
            "doc_id",
            winnow_fingerprints_pandas(
                F.col("text"), SPAN_N, WINNOW_W
            ).alias("fps"),
        )
        .transform(materialize, sf_dir)
    )
    e = docs.select("doc_id", F.explode("fps").alias("f"))
    freq = (
        e.groupBy("f")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter((F.col("c") >= 2) & (F.col("c") <= WINNOW_FP_CAP))
        .select("f")
    )
    shared = e.join(freq, "f")
    pairs = (
        shared.alias("a")
        .join(
            shared.alias("b"),
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )
    sizes = docs.select("doc_id", F.size("fps").cast("long").alias("nf"))
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.round(
                F.col("shared_fps").cast("double") / F.least("na", "nb"), 5
            ).alias("overlap"),
        )
        .orderBy(F.col("shared_fps").desc(), "doc_a", "doc_b")
        .limit(WINNOW_TOPK)
    )


# ---------------------------------------------------------------------------
# t_bleu_pairs — n-gram eval metric (BLEU-2) over near-dup candidates
# ---------------------------------------------------------------------------

_BLEU_SQL = f"""
    {_FUNNEL_SQL},
    tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l
           FROM documents),
    uc AS (
        SELECT doc_id, u.t AS g, count(*) AS c
        FROM tk, LATERAL (SELECT unnest(l) AS t) u
        GROUP BY 1, 2
    ),
    bc AS (
        SELECT doc_id, u.w[1] || ' ' || u.w[2] AS g, count(*) AS c
        FROM tk, LATERAL (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:]))
                          AS w) u
        GROUP BY 1, 2
    ),
    lens AS (SELECT doc_id, len(l) AS n FROM tk),
    m1 AS (
        SELECT p.doc_a, p.doc_b, sum(least(h.c, r.c)) AS m
        FROM pairs p
        JOIN uc h ON h.doc_id = p.doc_b
        JOIN uc r ON r.doc_id = p.doc_a AND r.g = h.g
        GROUP BY 1, 2
    ),
    m2 AS (
        SELECT p.doc_a, p.doc_b, sum(least(h.c, r.c)) AS m
        FROM pairs p
        JOIN bc h ON h.doc_id = p.doc_b
        JOIN bc r ON r.doc_id = p.doc_a AND r.g = h.g
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(COALESCE(m1.m, 0) AS BIGINT) AS m1,
           CAST(lb.n AS BIGINT) AS t1,
           CAST(COALESCE(m2.m, 0) AS BIGINT) AS m2,
           CAST(greatest(lb.n - 1, 1) AS BIGINT) AS t2,
           round(COALESCE(m1.m, 0) / (1.0 * lb.n), 6) AS p1,
           round(COALESCE(m2.m, 0) / (1.0 * greatest(lb.n - 1, 1)), 6) AS p2,
           round(lb.n / (1.0 * la.n), 6) AS brevity_ratio,
           round(sqrt((COALESCE(m1.m, 0) / (1.0 * lb.n))
                      * (COALESCE(m2.m, 0)
                         / (1.0 * greatest(lb.n - 1, 1)))), 6) AS bleu2
    FROM pairs p
    JOIN lens la ON la.doc_id = p.doc_a
    JOIN lens lb ON lb.doc_id = p.doc_b
    LEFT JOIN m1 ON m1.doc_a = p.doc_a AND m1.doc_b = p.doc_b
    LEFT JOIN m2 ON m2.doc_a = p.doc_a AND m2.doc_b = p.doc_b
    ORDER BY p.doc_a, p.doc_b
"""


@register("t_bleu_pairs", _BLEU_SQL)
def t_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (Papineni et al. 2002) between near-duplicate candidate
    pairs — the n-gram eval metric machinery (modified n-gram
    precision = clipped multiset overlap) run where a data engine
    actually needs it: quantifying HOW similar the LSH funnel's
    candidate pairs are, the graded signal downstream of the binary
    dedup verdict (the same kernel scores model outputs against
    references in eval pipelines). Hypothesis = doc_b, reference =
    doc_a; reports clipped unigram/bigram matches, modified precisions,
    and the geometric mean sqrt(p1·p2).

    Determinism: clipped counts are exact integer multiset minima (a
    count-join, never array ops on the hot path); precisions are
    correctly-rounded divisions of exact integers; sqrt is
    IEEE-exact — so the metric is bit-identical WITHOUT any libm
    call. The standard exp brevity penalty is deliberately replaced
    by the raw brevity ratio column (exp is the one non-portable
    piece cross-engine); consumers apply it downstream.

    Scale shape: candidates come from the shared MinHash-LSH band
    join (never all-pairs); n-gram count tables are built ONCE per
    corpus (map-side combined) and the clipped overlap is an equi-join
    on (gram) keyed to candidate docs only — pairs × shared-grams
    work, the two-stage funnel economics."""
    pairs = (
        _lsh_candidate_grams(spark, sf_dir)
        .select("doc_a", "doc_b")
        # Both overlap joins + the output sit in one action.
        .transform(materialize, sf_dir)
    )
    docs = _t(spark, sf_dir, "documents")
    from recommender_systems_spark.functions.text import tokens

    # Tokenise stays in the scan stage: the JVM regexp is cheap, and a
    # spread before it shuffled the raw text (measured 0.91-0.96× without
    # it on 4 cores, interleaved against the spread).
    tk = docs.select(
        "doc_id", tokens(F.col("text")).alias("l")
    ).transform(materialize, sf_dir)  # uni + bigram consumers, one action
    uni = tk.select("doc_id", F.explode("l").alias("g"))
    n_ = F.size("l")
    big = tk.filter(F.size("l") >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("l", 1, n_ - 1),
                F.slice("l", 2, n_ - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    )
    # Each per-doc n-gram count table feeds BOTH sides of its clipped
    # join (hypothesis + reference) — unmaterialised, the explode +
    # (doc_id, g) exchange ran twice per order (round-13).
    uc = (
        uni.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, sf_dir)
    )
    bc = (
        big.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, sf_dir)
    )
    lens = tk.select("doc_id", F.size("l").alias("n"))

    def clipped(cnt: DataFrame) -> DataFrame:
        h = cnt.select(
            F.col("doc_id").alias("doc_b"), "g", F.col("c").alias("ch")
        )
        r = cnt.select(
            F.col("doc_id").alias("doc_a"), "g", F.col("c").alias("cr")
        )
        return (
            pairs.join(h, "doc_b")
            .join(r, ["doc_a", "g"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least("ch", "cr")).alias("m"))
        )
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    m1 = clipped(uc).withColumnRenamed("m", "m1_")
    m2 = clipped(bc).withColumnRenamed("m", "m2_")
    t1 = F.col("nb")
    t2 = F.greatest(F.col("nb") - 1, F.lit(1))
    p1 = F.coalesce("m1_", F.lit(0)) / (1.0 * t1)
    p2 = F.coalesce("m2_", F.lit(0)) / (1.0 * t2)
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .join(m1, ["doc_a", "doc_b"], "left")
        .join(m2, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("m1_", F.lit(0)).cast("long").alias("m1"),
            t1.cast("long").alias("t1"),
            F.coalesce("m2_", F.lit(0)).cast("long").alias("m2"),
            t2.cast("long").alias("t2"),
            F.round(p1, 6).alias("p1"),
            F.round(p2, 6).alias("p2"),
            F.round(F.col("nb") / (1.0 * F.col("na")), 6).alias(
                "brevity_ratio"
            ),
            F.round(F.sqrt(p1 * p2), 6).alias("bleu2"),
        )
        .orderBy("doc_a", "doc_b")
    )
