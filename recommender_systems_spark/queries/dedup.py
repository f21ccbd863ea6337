"""Near-duplicate detection queries (training-data-pipeline extensions):
MinHash-LSH, SimHash pigeonhole, and the exact-Jaccard verify step.

These consume the deterministic constants in ``dedup.constants`` (LCG
MinHash coefficients, band geometry) through the kernels in
``dedup.minhash``; the DuckDB oracles are GENERATED from the same
constants, so both engines execute the identical hash family.

Scale shape (the reason LSH exists): no cross join anywhere. Candidate
generation is an equi-join on (band, key) — the shuffle carries
|docs|×BANDS small rows, and only bucket-colliding pairs reach the
exact verify. At 100 TB the band join is the one shuffle; AQE handles
hot buckets (identical boilerplate docs) via skew-join splitting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.dedup.minhash import (
    LSH_BANDS,
    band_key,
    jaccard,
    minhash_struct_pandas,
    signature_agreement,
    SIMHASH_BANDS,
    simhash_band,
    simhash_n_tables,
    simhash_pandas,
    simhash_table_key,
    sql_band_key,
    sql_simhash_bands,
    sql_char_ngrams,
    sql_minhash_signature,
    sql_shingle_hashes,
    sql_shingles,
    sql_simhash,
    sql_tokens,
)
from recommender_systems_spark.io import (
    cache_path,
    cache_ready,
    materialize,
    materialize_now,
    table_rows,
)
from recommender_systems_spark.registry import _t, register

SIG_LEN = 16  # LSH_BANDS * LSH_ROWS
SIMHASH_MAX_HAMMING = 1
# Documents past this count switch the connected-components loop from
# in-memory localCheckpoint rounds to on-disk parquet rounds (the
# reliable-checkpoint analogue; see dedup_clusters). sf10's 500k-doc
# corpus OOMed an 80 g heap on accumulated round blocks; sf ≤ 1 stays
# on the fast in-memory path.
CC_RELIABLE_ROWS = 100_000

# ---------------------------------------------------------------------------
# MinHash-LSH near-dup: shingle → sign → band → bucket join → verify
# ---------------------------------------------------------------------------

_MINHASH_BANDS_SQL = " UNION ALL ".join(
    f"(SELECT doc_id, {b} AS band, {sql_band_key('sig', b)} AS key FROM sig)"
    for b in range(LSH_BANDS)
)

_MINHASH_SQL = f"""
    WITH sh AS (
        SELECT doc_id, {sql_shingles(sql_tokens('text'))} AS shingles
        FROM documents
    ),
    hs AS (SELECT doc_id, shingles,
                  {sql_shingle_hashes('shingles')} AS hs
           FROM sh),
    sig AS (SELECT doc_id, shingles, {sql_minhash_signature('hs')} AS sig
            FROM hs),
    bands AS ({_MINHASH_BANDS_SQL}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id
    ),
    ver AS (
        SELECT p.doc_a, p.doc_b,
               sa.sig AS siga, sb.sig AS sigb,
               list_distinct(sa.shingles) AS da,
               list_distinct(sb.shingles) AS db
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(range(1, {SIG_LEN + 1}),
                                i -> siga[i] = sigb[i])) AS BIGINT)
               AS sig_matches,
           len(list_filter(range(1, {SIG_LEN + 1}), i -> siga[i] = sigb[i]))
               / {SIG_LEN}.0 AS est_jaccard,
           round(CAST(len(list_distinct(list_intersect(da, db))) AS DOUBLE)
                 / (len(da) + len(db)
                    - len(list_distinct(list_intersect(da, db)))), 5)
               AS jaccard
    FROM ver
"""


@register("dedup_minhash", _MINHASH_SQL)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via MinHash-LSH over word 3-shingles: 16-slot
    signatures (affine family over p=2³¹−1, coefficients from the
    shared LCG), 4 bands × 4 rows, bucket equi-join for candidates,
    then two verify signals per pair — signature agreement (the Jaccard
    estimator) and exact distinct-shingle Jaccard.

    The plan: one projection computes shingles+signature per doc, a
    posexplode emits 4 (band, key) rows per doc, a self equi-join on
    (band, key) yields candidates, and the verify join touches only
    candidate docs. No cross join; `.explain` shows two shuffles
    (band join, pair dedup) of key-sized rows."""
    # The local test file is a single parquet split; spread the (CPU-
    # heavy, interpreted-HOF) signature computation across all cores.
    # On a real cluster the scan arrives pre-partitioned and this
    # round-robin exchange of (id, text) is a no-op to remove.
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Three consumers (band explode, verify-a, verify-b) read the
    # signature table; checkpoint so the shingle+signature computation
    # runs once instead of three times. The Arrow kernel is
    # value-identical to the HOF pair
    # array_distinct(word_shingles(text)) / minhash_signature(
    # shingle_hashes(text)) — see dedup.minhash.minhash_struct_pandas.
    sh = (
        docs.select("doc_id", minhash_struct_pandas(F.col("text")).alias("s"))
        .select("doc_id", F.col("s.da").alias("da"), F.col("s.sig").alias("sig"))
        .transform(materialize, sf_dir)
    )
    bands = sh.select(
        "doc_id",
        F.posexplode(F.array(*[band_key(F.col("sig"), b) for b in range(LSH_BANDS)]))
        .alias("band", "key"),
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ver = (
        pairs.join(
            sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sig").alias("siga"),
                F.col("da").alias("da"),
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sig").alias("sigb"),
                F.col("da").alias("db"),
            ),
            "doc_b",
        )
    )
    matches = signature_agreement(F.col("siga"), F.col("sigb"))
    return ver.select(
        "doc_a",
        "doc_b",
        matches.cast("long").alias("sig_matches"),
        (matches / F.lit(float(SIG_LEN))).alias("est_jaccard"),
        F.round(jaccard(F.col("da"), F.col("db")), 5).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash pigeonhole near-dup
# ---------------------------------------------------------------------------

_SIMHASH_BANDS_SQL = sql_simhash_bands()

# hs → sh → bands → pairs → near: shared between dedup_simhash (emits
# the near-dup pairs) and dedup_clusters (builds components over them).
_SIMHASH_CTES = f"""
    hs AS MATERIALIZED (
        SELECT doc_id,
               {sql_shingle_hashes(sql_char_ngrams('text'))} AS hs
        FROM documents
    ),
    sh AS MATERIALIZED (SELECT doc_id, {sql_simhash('hs')} AS sim FROM hs),
    bands AS ({_SIMHASH_BANDS_SQL}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sim AS sa, b.sim AS sb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id
    ),
    near AS (
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM pairs
        WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}
    )
"""

_SIMHASH_SQL = f"""
    WITH {_SIMHASH_CTES}
    SELECT doc_a, doc_b, hamming FROM near
"""


@register("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via 31-bit SimHash over char 5-grams with
    Manku-style complement-block keys (Manku et al., WWW'07): the
    emitted threshold is Hamming ≤ 1, so the differing bit lives in
    ONE of B blocks and the table keyed on all-bits-except-that-block
    matches exactly — candidates come from a (table, key) equi-join
    (never a cross join), recall is EXACT at any B, and only
    candidates pay the bit_count verify.

    Key width is the scale lever, and it ADAPTS: B grows 2 → 4 → 8
    with the corpus (``simhash_n_tables`` integer ladder, mirrored in
    the oracle), widening keys from ~15 to ~27 bits so random
    collisions stay ~n·const instead of n²/2^16 (a fixed 2×16-bit
    geometry measured 176× wall at 100× data on the source-overlap
    matrix). At B=2 the complement of one block IS the other block, so
    candidates and output are byte-identical to the historical 16-bit
    band form at every n ≤ 100k. The Hamming filter runs BEFORE the
    pair distinct so the dedup shuffle carries only true near-dups."""
    src = _t(spark, sf_dir, "documents")
    n_tab = simhash_n_tables(table_rows(sf_dir, "documents"))
    docs = (
        src
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Both sides of the band self-join read `sh`; checkpoint so the
    # Arrow simhash kernel runs once per doc, not once per join side.
    sh = docs.select(
        "doc_id", simhash_pandas(F.col("text")).alias("sim")
    ).transform(materialize, sf_dir)
    bands = sh.select(
        "doc_id",
        "sim",
        F.posexplode(
            F.array(*[
                simhash_table_key(F.col("sim"), n_tab, t)
                for t in range(n_tab)
            ])
        ).alias("band", "key"),
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim").alias("sa"),
            F.col("b.sim").alias("sb"),
        )
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the SimHash pairs
# ---------------------------------------------------------------------------

_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
              UNION SELECT doc_b, doc_a FROM near),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id
    ),
    lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM lab GROUP BY cluster_id)
    SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
    FROM lab JOIN sz USING (cluster_id)
"""

CLUSTER_MAX_ITER = 20


@register("dedup_clusters", _CLUSTERS_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    SimHash near-dup pairs, labelling every involved doc with the
    MINIMUM doc id of its component — the canonical survivor a dedup
    pipeline keeps (pairwise near-dup output alone can't answer "which
    doc do I keep?" when A~B and B~C but A!~C).

    Spark shape: min-label propagation (the HashMin connected-components
    algorithm) — labels start as each node's own id; each round joins
    labels across the symmetric edge list, takes the per-node min of
    neighbour labels, and stops when no label changed. Rounds needed =
    component diameter, which for near-dup clusters is tiny (near-dup
    similarity is almost transitive); each round is ONE shuffle join +
    hash agg on (id, label) pairs — never text — and localCheckpoint
    truncates the iterative lineage. The oracle walks the same graph
    with a recursive CTE.

    Reference tie-in: this is A7's dedup generalised from exact-equality
    keys to a similarity graph (SURVEY §2.4)."""
    labels = _cc_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged HashMin/pointer-doubling component labels (id, label)
    over the SimHash near-pair graph — the shared core of
    dedup_clusters (which adds cluster sizes) and dedup_canonical_keep
    (which adds the survivor argmax; before round-14 it re-ran
    dedup_clusters' size aggregate + broadcast join only to drop both
    columns). Returns a materialised frame (checkpoint blocks on the
    small path, a detached localCheckpoint on the reliable-parquet
    path)."""
    # Storage policy (the sf10 OOM lesson, PLANS.md round-10 addendum):
    # per-round localCheckpoint blocks pile up in the block manager —
    # round N's blocks are garbage once round N+1 is materialised, but
    # nothing reclaims them, and at 100× data the accumulated rounds
    # OOMed an 80 g heap. Past ``CC_RELIABLE_ROWS`` documents the loop
    # therefore materialises each round (and the edge list) to PARQUET
    # under the cache dir, ALTERNATING between two per-run round
    # directories (round N overwrites round N−2's dir while reading
    # round N−1's) — storage bounded at two rounds, identical values,
    # and the direct analogue of reliable ``checkpoint()`` to
    # HDFS/object storage on a cluster. The round dirs are suffixed
    # with the driver PID (concurrent runs over the same corpus must
    # not clobber each other's round state) and removed when the loop
    # finishes. Small corpora keep the in-memory path.
    big = table_rows(sf_dir, "documents") > CC_RELIABLE_ROWS
    # The near-pair list is the persisted OUTPUT of the detection
    # stage (deterministic in the corpus): clustering consumes the
    # table, it does not re-run detection — so it goes to parquet once
    # per data identity and the symmetric edge view derives from the
    # DISK copy at every scale. This also removes the concurrent
    # first-computation race a lazy near-checkpoint had at sf10 (two
    # union branches over the same un-materialised RDD inside one
    # write job — "Block rdd_N does not exist" under memory pressure),
    # and cuts the simhash kernel + band join prefix from every
    # clusters/canonical-keep run.
    # Prefix carries the detection geometry (simhash band count + the
    # Hamming radius) — the pair list is a function of both the corpus
    # AND these constants, so editing them must miss the cache.
    near_dir = cache_path(
        f"cc_near_b{SIMHASH_BANDS}h{SIMHASH_MAX_HAMMING}", sf_dir, "documents"
    )
    if not cache_ready(near_dir):
        (
            dedup_simhash(spark, sf_dir)
            .select("doc_a", "doc_b")
            .write.mode("overwrite")
            .parquet(near_dir)
        )
    near = spark.read.parquet(near_dir)
    edges = near.union(near.select("doc_b", "doc_a")).toDF("src", "dst")
    # The in-memory path's checkpoints take no ``sf_dir``: they stay lazy
    # at every scale, since past CC_RELIABLE_ROWS the big path replaces
    # them with parquet rounds.
    if not big:
        edges = materialize(edges)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    if not big:
        # Big path: labels re-derive from the on-disk edge list (one
        # distinct, round 1 only) — no block-manager residency.
        labels = materialize(labels)
    rnd_dirs = (
        [
            cache_path(f"cc_round{i}_{os.getpid()}", sf_dir, "documents")
            for i in range(2)
        ]
        if big
        else None
    )
    try:
        for rnd in range(CLUSTER_MAX_ITER):
            # relaxed(id) = min(own label ∪ neighbour labels), fused as
            # ONE union + aggregate (round-14): min over the union of
            # the label table (which also carries the old label for the
            # fixpoint test — exactly one non-null __o per id, so
            # max(__o) recovers it) and the neighbour label rows. The
            # pre-round-14 form pre-aggregated neighbours per src and
            # LEFT-joined back onto labels — one more join per round
            # for the same shuffled bytes (the union agg's map-side
            # partials collapse neighbour rows to ≤|nodes| per
            # partition before the exchange, guide §2.3).
            relaxed = (
                labels.select("id", "label", F.col("label").alias("__o"))
                .unionByName(
                    edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                    .select(
                        F.col("src").alias("id"),
                        "label",
                        F.lit(None).cast("long").alias("__o"),
                    )
                )
                .groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.max("__o").alias("__old"),
                )
            )
            # Path shortcut (pointer doubling): replace each label by ITS
            # OWN current label — labels are node ids, so the relaxed frame
            # doubles as the lookup table. TWO hops are batched per Spark
            # round (label ← relaxed³(id), one lazy join chain before the
            # single checkpoint+count job), so chains shrink faster per
            # ROUND and the round count — whose per-round job fixed cost
            # dominates wall time at small SF — roughly halves versus the
            # one-hop form. Monotone min-labels make extra compositions
            # safe: relaxedⁿ only moves labels further toward the component
            # minimum, and the fixpoint test is unchanged. Convergence flag
            # rides in the checkpointed frame: the fixpoint test is a local
            # scan, not a second join.
            lookup = relaxed.select(
                F.col("id").alias("label"), F.col("label").alias("ll")
            )
            cur = relaxed
            for _hop in range(2):
                cur = (
                    cur.alias("n")
                    .join(lookup.alias("t"), "label", "left")
                    .select(
                        F.col("n.id").alias("id"),
                        F.coalesce("t.ll", "n.label").alias("label"),
                        F.col("n.__old").alias("__old"),
                    )
                )
            stepped = cur.select(
                "id",
                "label",
                (F.col("label") != F.col("__old")).alias("__moved"),
            )
            if big:
                # Reliable round store: two alternating directories — round
                # N overwrites round N−2's dir while reading round N−1's,
                # so on-disk state never exceeds two rounds.
                rnd_dir = rnd_dirs[rnd % 2]
                stepped.write.mode("overwrite").parquet(rnd_dir)
                stepped = spark.read.parquet(rnd_dir)
                changed = stepped.filter(F.col("__moved")).count()
            else:
                # Lazy checkpoint + count = ONE action per round: the count
                # triggers the checkpoint's materialisation, and the next
                # round's lineage starts from the stored blocks.
                stepped = materialize(stepped)
                changed = stepped.filter(F.col("__moved")).count()
            labels = stepped.drop("__moved")
            if changed == 0:
                break
        if big:
            # Detach the converged labels from the per-run round dirs
            # before cleanup below — the returned frame must not read
            # removed files.
            labels = materialize_now(labels)
    finally:
        if rnd_dirs is not None:
            import shutil

            for d in rnd_dirs:
                shutil.rmtree(d, ignore_errors=True)
    return labels


# ---------------------------------------------------------------------------
# dedup_source_overlap — cross-source near-duplicate leakage matrix
# ---------------------------------------------------------------------------

_SRC_OVERLAP_SQL = f"""
    WITH {_SIMHASH_CTES},
    lab AS (
        SELECT n.doc_a, n.doc_b, da.source AS sa, db.source AS sb
        FROM near n
        JOIN documents da ON da.doc_id = n.doc_a
        JOIN documents db ON db.doc_id = n.doc_b
    )
    SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2
"""


@register("dedup_source_overlap", _SRC_OVERLAP_SQL)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate leakage matrix: the SimHash near-dup
    pairs grouped by (source, source) — the report a corpus curator
    reads to find which feeds mirror each other (same-source rows are
    internal redundancy; off-diagonal cells are scrape overlap, the
    thing that silently double-weights a domain in training mixture
    math and leaks test sets across "independent" sources).

    Scale shape: rides the banded SimHash candidate generator
    unchanged (no new all-pairs work); the source labels come from two
    id-equi-joins against the documents table projected to (doc_id,
    source), and the matrix aggregate is |sources|²-keyed — tiny.
    least/greatest on the ASCII source names orders each pair
    identically in both engines."""
    near = dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    lab = near.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        "doc_b",
    )
    return (
        lab.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# dedup_fuzzy_match — blocked edit-distance matching on short fields
# ---------------------------------------------------------------------------

_FUZZY_PRE = 40  # chars of text treated as the "title" field
_FUZZY_MAXD = 8  # max edit distance on the prefix
_FUZZY_BAND = 100  # n_chars length-band width for blocking

_FUZZY_WINDOW = 8  # sorted-neighborhood width (candidate budget per row)

_FUZZY_SQL = f"""
    WITH d AS (
        SELECT doc_id, lang,
               substr(text, 1, {_FUZZY_PRE}) AS pre,
               n_chars // {_FUZZY_BAND} AS band
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang, pre, band,
               row_number() OVER (PARTITION BY lang, band
                                  ORDER BY pre, doc_id) AS rn
        FROM d
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
               levenshtein(a.pre, b.pre) AS dist
        FROM r a JOIN r b
          ON a.lang = b.lang AND a.band = b.band
         AND b.rn BETWEEN a.rn + 1 AND a.rn + {_FUZZY_WINDOW}
    )
    SELECT least(id_a, id_b) AS doc_a, greatest(id_a, id_b) AS doc_b,
           lang, CAST(dist AS INT) AS dist,
           round(1.0 - dist / {_FUZZY_PRE}.0, 6) AS sim
    FROM cand
    WHERE dist <= {_FUZZY_MAXD}
"""


@register("dedup_fuzzy_match", _FUZZY_SQL)
def dedup_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance fuzzy matching on a short text field (the
    {_FUZZY_PRE}-char prefix standing in for a title/name column) — the
    record-linkage complement of the sketch dedups: MinHash/SimHash see
    token SETS, Levenshtein sees character ORDER, so transposed-word
    and small-typo dups that survive the sketches fall out here.

    Scale shape — sorted-neighborhood method (Hernández & Stolfo
    1995), the record-linkage answer to quadratic blocking: within
    each (lang, length band) partition, records sort by the prefix
    itself and each record compares against exactly the next
    {_FUZZY_WINDOW} neighbors in sort order. Candidate count is
    N×{_FUZZY_WINDOW} — LINEAR by construction at any corpus size —
    where attribute blocking (the previous shape: lang + first token
    + band, all FIXED-cardinality keys) grows blocks, and pair work,
    linearly with the corpus (measured 47× at a 10× tiling). Typo'd
    prefixes sort adjacent precisely because the sort key IS the
    compared field. The rank join unrolls the window into
    {_FUZZY_WINDOW} equi-join keys (the e_psm_att caliper move — no
    inequality join); Levenshtein (a JVM built-in, no Python) runs
    only on the N×{_FUZZY_WINDOW} neighbor pairs. Parity: ranks are
    total-ordered (pre, doc_id), the edit distance is an integer both
    engines compute identically, sim is one exact-operand division
    rounded on the 6dp grid."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, _FUZZY_PRE).alias("pre"),
        F.expr(f"n_chars div {_FUZZY_BAND}").alias("band"),
    )
    wr = Window.partitionBy("lang", "band").orderBy("pre", "doc_id")
    r = d.withColumn("rn", F.row_number().over(wr))
    probe = r.withColumn(
        "rn_b",
        F.explode(
            F.array(*[F.col("rn") + k for k in range(1, _FUZZY_WINDOW + 1)])
        ),
    ).select(
        "lang", "band", F.col("doc_id").alias("id_a"),
        F.col("pre").alias("pre_a"), "rn_b",
    )
    cand = probe.join(
        r.select(
            "lang", "band", F.col("doc_id").alias("id_b"),
            F.col("pre").alias("pre_b"), F.col("rn").alias("rn_b"),
        ),
        ["lang", "band", "rn_b"],
    )
    dist = F.levenshtein(F.col("pre_a"), F.col("pre_b"))
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= _FUZZY_MAXD)
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "lang",
            F.col("dist").cast("int").alias("dist"),
            F.round(1.0 - F.col("dist") / float(_FUZZY_PRE), 6).alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# LSH banding calibration: measured collision S-curve vs true Jaccard
# ---------------------------------------------------------------------------

# Fixed-COUNT deterministic doc sample — the scale control. md5-ordered
# top-N (doc_id total tie-break) is identical in both engines and keeps
# the all-pairs measurement at O(N²) = constant regardless of corpus
# size (a doc_id-mod FRACTION would grow quadratically with the corpus).
_LSH_CAL_N = 400

_LSH_CAL_COLLIDE = " OR ".join(
    f"({sql_band_key('siga', b)}) = ({sql_band_key('sigb', b)})"
    for b in range(LSH_BANDS)
)

_LSH_CAL_SQL = f"""
    WITH samp AS (
        SELECT doc_id, text FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        LIMIT {_LSH_CAL_N}
    ),
    sh AS (
        SELECT doc_id, {sql_shingles(sql_tokens('text'))} AS shingles
        FROM samp
    ),
    hs AS (SELECT doc_id, shingles,
                  {sql_shingle_hashes('shingles')} AS hs
           FROM sh),
    sig AS (SELECT doc_id, list_distinct(shingles) AS da,
                   {sql_minhash_signature('hs')} AS sig
            FROM hs),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sig AS siga, b.sig AS sigb,
               round(CAST(len(list_distinct(list_intersect(a.da, b.da)))
                          AS DOUBLE)
                     / (len(a.da) + len(b.da)
                        - len(list_distinct(list_intersect(a.da, b.da)))),
                     5) AS jac,
               CASE WHEN {_LSH_CAL_COLLIDE} THEN 1 ELSE 0 END AS collide
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ),
    binned AS (
        SELECT CAST(least(floor(jac * 10), 9) AS INT) AS bin,
               collide
        FROM pairs
    )
    SELECT bin,
           round(bin / 10.0 + 0.05, 2) AS jac_mid,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(collide) AS BIGINT) AS n_collide,
           round(CAST(sum(collide) AS DOUBLE) / count(*), 6) AS measured,
           round(1.0 - (
               (1.0 - ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05))
                      * ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05)))
               * (1.0 - ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05))
                        * ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05)))
           ) * (
               (1.0 - ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05))
                      * ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05)))
               * (1.0 - ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05))
                        * ((bin / 10.0 + 0.05) * (bin / 10.0 + 0.05)))
           ), 6) AS theoretical
    FROM binned
    GROUP BY bin
"""


def _lsh_scurve_term(j):  # (1 - j^4)^4 in +,* only — no cross-engine libm pow
    j2 = j * j
    inner = 1.0 - j2 * j2
    i2 = inner * inner
    return i2 * i2


@register("dedup_lsh_calibration", _LSH_CAL_SQL)
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding calibration: the MEASURED collision S-curve of the
    4×4 banding against true shingle Jaccard, binned into Jaccard
    deciles, next to the theoretical 1−(1−j^r)^b at each bin midpoint —
    the validation every LSH deployment runs before trusting its
    band/row choice (dedup_threshold_sweep tunes the VERIFY cutoff;
    this validates the CANDIDATE stage's probability curve).

    Scale shape: the all-pairs comparison runs ONLY inside a
    deterministic FIXED-COUNT sample — the md5-ordered top-_LSH_CAL_N
    docs (TakeOrderedAndProject: per-partition heap of N, no global
    sort), so the pair count is N²/2 = constant at ANY corpus size (a
    mod-fraction sample would grow quadratically with the corpus; the
    S-curve is a population estimate, so a fixed sample suffices);
    signatures come from the shared
    Arrow kernel computed once per sampled doc, and collision is an
    in-row band-slice comparison on the already-joined pair — no bucket
    explode, no second join. The theoretical column is +,×-only
    arithmetic (no cross-engine libm)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(_LSH_CAL_N)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = (
        docs.select("doc_id", minhash_struct_pandas(F.col("text")).alias("s"))
        .select("doc_id", F.col("s.da").alias("da"), F.col("s.sig").alias("sig"))
        .transform(materialize, sf_dir)
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("da").alias("da"),
        F.col("sig").alias("siga"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("da").alias("db"),
        F.col("sig").alias("sigb"),
    )
    collide = None
    for band in range(LSH_BANDS):
        eq = band_key(F.col("siga"), band) == band_key(F.col("sigb"), band)
        collide = eq if collide is None else (collide | eq)
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b")).select(
        F.round(jaccard(F.col("da"), F.col("db")), 5).alias("jac"),
        F.when(collide, 1).otherwise(0).alias("collide"),
    )
    binned = pairs.select(
        F.least(F.floor(F.col("jac") * 10), F.lit(9)).cast("int").alias("bin"),
        "collide",
    )
    mid = F.col("bin") / 10.0 + 0.05
    return binned.groupBy("bin").agg(
        F.round(F.min(mid), 2).alias("jac_mid"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("collide").cast("long").alias("n_collide"),
        F.round(F.sum("collide").cast("double") / F.count(F.lit(1)), 6).alias(
            "measured"
        ),
        F.round(1.0 - _lsh_scurve_term(F.min(mid)), 6).alias("theoretical"),
    )


# ---------------------------------------------------------------------------
# dedup_canonical_keep — survivor selection over the near-dup clusters
# ---------------------------------------------------------------------------

_KEEP_ENC = 2 ** 33  # composite argmax key: n_chars*ENC - doc_id

_KEEP_SQL = f"""
    WITH RECURSIVE {_SIMHASH_CTES},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM near
              UNION SELECT doc_b, doc_a FROM near),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.src AS id, reach.r FROM reach JOIN edges e ON e.dst = reach.id
    ),
    lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    q AS (
        SELECT lab.doc_id, lab.cluster_id, d.n_chars
        FROM lab JOIN documents d USING (doc_id)
    ),
    surv AS (
        SELECT cluster_id,
               arg_max(doc_id, n_chars * {_KEEP_ENC} - doc_id) AS survivor,
               CAST(count(*) AS BIGINT) AS cluster_size
        FROM q GROUP BY cluster_id
    )
    SELECT q.doc_id, q.cluster_id, surv.cluster_size,
           surv.survivor AS survivor_id,
           CAST(q.n_chars AS BIGINT) AS n_chars,
           CAST(CASE WHEN q.doc_id = surv.survivor THEN 1 ELSE 0 END AS INT)
               AS keep
    FROM q JOIN surv USING (cluster_id)
    ORDER BY q.cluster_id, q.doc_id
"""


@register("dedup_canonical_keep", _KEEP_SQL)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the step that turns near-dup CLUSTERS into
    an actionable keep/drop list: per connected component, keep the
    longest document (n_chars argmax, min-doc_id tie-break — the
    "most complete version" policy; swap the key for a quality score
    and the plan is unchanged) and mark every other member for
    removal. Completes the dedup pipeline: detect (dedup_simhash) →
    cluster (dedup_clusters) → CHOOSE (this op) — pairwise output
    alone can't answer "which doc do I keep?".

    Determinism: the survivor argmax uses the composite integer key
    n_chars·2³³ − doc_id (DuckDB arg_max takes only scalar keys — the
    m_preference_pairs trick), exact while doc ids stay under 2³³.

    Scale shape: cluster labels come from the HashMin/pointer-doubling
    component pass (id-pair shuffles only); this op adds ONE join of
    the clustered-doc list against the documents metadata (never the
    text) and one cluster-keyed argmax — both linear in clustered
    docs, which near-dup mass keeps a small fraction of the corpus.
    Consumes _cc_labels directly (round-14): the dedup_clusters wrapper
    also aggregates + broadcast-joins cluster sizes, both of which this
    query dropped on the floor (its own argmax aggregate recomputes the
    size)."""
    lab = _cc_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    meta = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    q = lab.join(meta, "doc_id").transform(materialize, sf_dir)  # argmax + output share
    surv = q.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id", F.col("n_chars") * _KEEP_ENC - F.col("doc_id")
        ).alias("survivor"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return (
        q.join(surv, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            F.col("survivor").alias("survivor_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
            (F.col("doc_id") == F.col("survivor")).cast("int").alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )
