"""Text-analysis extension queries: language ID and quality scoring.

The DuckDB oracle SQL is *generated from the same constants* as the
Spark implementation (stopword inventories, weights) so the two can
never drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recommender_systems_spark.functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    STOPWORDS,
    language_id,
    quality_score,
    rolling_fingerprint,
    tokens,
)
from recommender_systems_spark.io import materialize
from recommender_systems_spark.registry import _t, register


# Shared SQL fragments live in _shared (sibling modules embed them in
# their own oracles; a module-level cross-import of THIS module would
# hit the circular-import class _shared documents).
from recommender_systems_spark.queries._shared import (  # noqa: E402
    LANG_CASE as _LANG_CASE,
    LANG_SQL as _LANG_SQL,
    sql_stopword_hits as _hits_sql,
    u01_col,
    u01_sql,
)


@register("t_language_id", _LANG_SQL)
def t_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: heuristic language ID (stopword-hit argmax over small
    per-language inventories; 'und' when no hits — e.g. zh text with
    latin tokenisation). Ties resolve to the earlier language."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        language_id(F.col("text")).alias("lang_guess"),
    )


_QUALITY_SQL = f"""
    WITH t AS (
        SELECT doc_id, text,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) AS alpha_ratio,
               CAST({_hits_sql("en")} AS DOUBLE) / greatest(len(toks), 1)
                   AS stop_ratio,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / greatest(len(toks), 1) AS mean_tok_len
        FROM t
    )
    SELECT doc_id,
           round(0.25 * (CASE WHEN n_tok >= 10 AND n_tok <= 100000
                              THEN 1.0 ELSE 0.0 END)
                 + 0.25 * least(alpha_ratio * 1.25, 1.0)
                 + 0.25 * least(stop_ratio * 4.0, 1.0)
                 + 0.25 * (CASE WHEN mean_tok_len >= 2.0 AND mean_tok_len <= 12.0
                                THEN 1.0 ELSE 0.0 END), 6) AS quality
    FROM m
"""


@register("t_quality_score", _QUALITY_SQL)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: composite document-quality score in [0,1] for
    training-data curation (length band + alpha ratio + stopword ratio
    + token-length band). All built-ins, codegen'd."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


QUALITY_CUTOFF = 0.5

_PIPE_FP = f"""list_reduce(
    list_prepend(CAST(0 AS BIGINT),
        list_transform(regexp_split_to_array(text, ''),
                       ch -> CAST(ascii(ch) AS BIGINT))),
    (acc, x) -> (acc * {FINGERPRINT_BASE} + x) % {FINGERPRINT_MOD})"""

# Shared CTE prefix: tokenise → stopword scores → quality + lang guess.
# Used by BOTH t_curation_pipeline and t_curation_attrition so the two
# can never disagree about gate semantics.
_SCORED_PREFIX = f"""
    WITH t AS (
        SELECT doc_id, source, text,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    s AS (
        SELECT *, {", ".join(f"{_hits_sql(lang)} AS s_{lang}" for lang in STOPWORDS)}
        FROM t
    ),
    b AS (
        SELECT *, greatest({", ".join(f"s_{lang}" for lang in STOPWORDS)}) AS best
        FROM s
    ),
    scored AS (
        SELECT doc_id, source, text,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CASE {_LANG_CASE} ELSE 'und' END AS lang_guess,
               round(0.25 * (CASE WHEN len(toks) >= 10 AND len(toks) <= 100000
                                  THEN 1.0 ELSE 0.0 END)
                     + 0.25 * least(CAST(length(regexp_replace(lower(text),
                                         '[^a-z]', '', 'g')) AS DOUBLE)
                                    / greatest(length(text), 1) * 1.25, 1.0)
                     + 0.25 * least(CAST(s_en AS DOUBLE)
                                    / greatest(len(toks), 1) * 4.0, 1.0)
                     + 0.25 * (CASE WHEN CAST(list_sum(list_transform(toks,
                                              x -> length(x))) AS DOUBLE)
                                         / greatest(len(toks), 1)
                                         BETWEEN 2.0 AND 12.0
                                    THEN 1.0 ELSE 0.0 END), 6) AS quality
        FROM b
    )
"""

_CURATION_SQL = f"""
    {_SCORED_PREFIX},
    kept AS (
        SELECT doc_id, source, n_tok, quality,
               {_PIPE_FP} AS fp, length(text) AS n_chars
        FROM scored
        WHERE quality >= {QUALITY_CUTOFF} AND lang_guess = 'en'
    ),
    dedup AS (
        SELECT *, row_number() OVER (PARTITION BY fp, n_chars
                                     ORDER BY doc_id) AS rn
        FROM kept
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(quality), 4) AS avg_quality
    FROM dedup WHERE rn = 1
    GROUP BY source
"""


@register("t_curation_pipeline", _CURATION_SQL)
def t_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline in ONE plan:
    quality gate (composite score ≥ cutoff) → language gate (stopword
    argmax = 'en') → exact dedup (keep the lowest doc_id per
    (fingerprint, length) group) → per-source corpus stats (docs,
    tokens, mean quality).

    The tokeniser runs ONCE per row: ``__toks`` is materialised in its
    own projection and both scores consume the bound column (the
    repeated-``regexp_extract_all`` trap from the language-ID op,
    avoided structurally). Dedup groups on the (8-byte fingerprint,
    length) pair — never on document text — so the one shuffle before
    the per-source rollup carries scalar keys only. This is the query
    a 100 TB pre-training corpus runs nightly; every stage is a
    column-level composition of already-oracle-checked kernels."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "__toks", tokens(F.col("text"))
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size("__toks").cast("long").alias("n_tok"),
        language_id(F.col("text"), toks=F.col("__toks")).alias("lang_guess"),
        F.round(
            quality_score(F.col("text"), toks=F.col("__toks")), 6
        ).alias("quality"),
        rolling_fingerprint(F.col("text")).alias("fp"),
        F.length("text").alias("n_chars"),
    )
    kept = scored.filter(
        (F.col("quality") >= QUALITY_CUTOFF) & (F.col("lang_guess") == "en")
    )
    w = Window.partitionBy("fp", "n_chars").orderBy("doc_id")
    surviving = kept.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return surviving.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


# Chunking geometry: 64-token windows advancing 48 tokens (16-token
# overlap) — the shape an embedding stage consumes.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48

_CHUNK_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    n AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                    ELSE CAST(ceil((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0)
                              AS BIGINT) + 1 END AS n_chunks
        FROM t
    ),
    x AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS i FROM n)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           COALESCE(array_to_string(
               list_slice(toks, i * {CHUNK_STRIDE} + 1,
                          i * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '), '') AS chunk_text,
           CAST(len(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                               i * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
               AS n_tokens
    FROM x
"""


@register("t_chunk_documents", _CHUNK_SQL)
def t_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: document chunking — overlapping fixed-size token
    windows, the unit an embedding/training stage consumes. Tokenise
    ONCE (the language-ID lesson), derive the chunk count arithmetically,
    posexplode the window index, slice per window — all built-ins, fully
    parallel, no shuffle at all (chunking is embarrassingly row-local;
    the only exchange in the plan is whatever the sink needs).

    Window geometry: ceil((n − C)/S) + 1 windows of C=64 tokens at
    stride S=48, so every token belongs to ≥1 chunk and consecutive
    chunks share C−S=16 tokens; short docs yield exactly one (possibly
    short) chunk."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size("__toks")
    n_chunks = (
        F.when(n <= CHUNK_TOKENS, F.lit(1).cast("long"))
        .otherwise(
            F.ceil((n - F.lit(CHUNK_TOKENS)) / F.lit(float(CHUNK_STRIDE))) + F.lit(1)
        )
    )
    # long arithmetic: pos is INT, and chunk_idx*48 overflows int32 for
    # ~45M-token documents — ANSI mode would throw where the BIGINT
    # oracle succeeds.
    chunk = F.slice(
        F.col("__toks"),
        F.col("chunk_idx").cast("long") * CHUNK_STRIDE + 1,
        CHUNK_TOKENS,
    )
    return (
        docs.select("doc_id", toks.alias("__toks"))
        .select(
            "doc_id",
            "__toks",
            F.posexplode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
        )
        .select(
            "doc_id",
            F.col("pos").alias("chunk_idx"),
            F.col("__toks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
    )


TFIDF_TOP = 3

_TFIDF_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INT) AS rnk FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS rnk
        FROM scored
    ) WHERE rnk <= {TFIDF_TOP}
"""


@register("t_tfidf_top_terms", _TFIDF_SQL)
def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: per-document TF-IDF top terms — the classic relevance
    feature. One explode→(doc, term) count shuffle builds TF; document
    frequency aggregates off the ALREADY-AGGREGATED tf table (term
    cardinality, not token cardinality — never a second pass over raw
    text); the smoothed IDF table is vocabulary-sized and broadcasts
    back; per-doc top-k by window. Ranking orders by the ROUNDED score
    in both engines so cross-engine double noise below 1e-6 cannot flip
    tie order.

    Scale: 3 exchanges (tf keyed on (doc,term), df on term, top-k
    window on doc); the raw-TEXT scan happens exactly once — the corpus
    size N comes from a 1-row count aggregate cross-joined into the
    plan (a metadata-only parquet count, and the query stays lazy — no
    eager driver job at construction)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select("doc_id", "term", "tfidf", "rnk")
    )


# Redaction patterns — identical syntax/semantics in Java regex (Spark)
# and DuckDB's RE2: no lookarounds, no backrefs. DENY_PAT (a long-token
# deny-list stand-in) is the pattern that actually fires on the synthetic
# corpus; EMAIL/NUM carry the real PII semantics for text with digits.
EMAIL_PAT = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
NUM_PAT = "[0-9]{4,}"
DENY_PAT = "[a-z]{8,}"

_REDACT_SQL = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{EMAIL_PAT}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{NUM_PAT}')) AS BIGINT)
               AS n_long_numbers,
           CAST(len(regexp_extract_all(lower(text), '{DENY_PAT}')) AS BIGINT)
               AS n_denied,
           regexp_replace(
               regexp_replace(
                   regexp_replace(lower(text), '{EMAIL_PAT}', '<EMAIL>', 'g'),
                   '{NUM_PAT}', '<NUM>', 'g'),
               '{DENY_PAT}', '<DENY>', 'g') AS redacted
    FROM documents
"""


@register("t_redact_pii", _REDACT_SQL)
def t_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: PII-style redaction — the scrub stage of a curation
    pipeline (emails, 4+-digit runs, then deny-listed long tokens,
    each replaced with a typed sentinel) plus per-doc match counts for
    audit. Entirely JVM-side regexp built-ins over one scan, no
    shuffle; the patterns avoid lookarounds/backrefs so Java regex and
    DuckDB RE2 agree match for match, and the uppercase sentinels
    can't cascade into later lowercase patterns."""
    docs = _t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(low, F.lit(EMAIL_PAT), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(NUM_PAT), 0))
        .cast("long")
        .alias("n_long_numbers"),
        F.size(F.regexp_extract_all(low, F.lit(DENY_PAT), 0))
        .cast("long")
        .alias("n_denied"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(low, EMAIL_PAT, "<EMAIL>"), NUM_PAT, "<NUM>"
            ),
            DENY_PAT,
            "<DENY>",
        ).alias("redacted"),
    )


_BPE_TOP = 20

_BPE_SQL = f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    pairs AS (
        SELECT substring(tok, j, 2) AS pair
        FROM toks, unnest(range(1, length(tok))) AS u(j)
        WHERE length(tok) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {_BPE_TOP}
"""


@register("t_bpe_pairs", _BPE_SQL)
def t_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE vocabulary-training inner loop at corpus scale: count
    every adjacent symbol pair across the tokenised corpus and surface
    the merge candidates (highest-count pairs) — one merge round of
    byte-pair encoding, the step a tokenizer trainer repeats. Uses the
    engine's shared TOKEN_PATTERN tokenisation (functions/text.py).

    Scale shape: tokenise → explode pairs (narrow, in-scan) → ONE
    partial+final hash aggregation on 2-char keys (map-side combine
    collapses the pair stream to ≤ |alphabet|² partials per partition)
    → global top-N via TakeOrderedAndProject. Raw text never rides the
    shuffle; only (pair, count) partials do — at 100 TB the shuffle is
    KB-sized per partition regardless of corpus size."""
    from recommender_systems_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pair = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda j: F.col("tok").substr(j, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pair.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP)
    )


# Gopher-style repetition thresholds (Rae et al. 2021 table A1 spirit:
# high duplicate-token or top-fragment mass ⇒ boilerplate/spam).
_REP_DUP_MAX = 0.30
_REP_TOP_TOKEN_MAX = 0.20
_REP_TOP_BIGRAM_MAX = 0.18

_REP_SQL = f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        FROM documents
    ),
    flat AS (
        SELECT doc_id, unnest(ts) AS tok FROM toks
    ),
    tok_counts AS (
        SELECT doc_id, tok, count(*) AS c FROM flat GROUP BY doc_id, tok
    ),
    tok_stats AS (
        SELECT doc_id, sum(c) AS n, count(*) AS n_distinct, max(c) AS top_c
        FROM tok_counts GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id, ts[j] || ' ' || ts[j + 1] AS bg
        FROM toks, unnest(range(1, len(ts))) AS u(j)
        WHERE len(ts) >= 2
    ),
    bi_counts AS (
        SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg
    ),
    bi_stats AS (
        SELECT doc_id, sum(c) AS bn, max(c) AS top_bc
        FROM bi_counts GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_tokens,
           round(1.0 - t.n_distinct / CAST(t.n AS DOUBLE), 5) AS dup_token_frac,
           round(t.top_c / CAST(t.n AS DOUBLE), 5) AS top_token_frac,
           round(COALESCE(b.top_bc / CAST(b.bn AS DOUBLE), 0.0), 5)
               AS top_bigram_frac,
           (1.0 - t.n_distinct / CAST(t.n AS DOUBLE) <= {_REP_DUP_MAX}
            AND t.top_c / CAST(t.n AS DOUBLE) <= {_REP_TOP_TOKEN_MAX}
            AND COALESCE(b.top_bc / CAST(b.bn AS DOUBLE), 0.0)
                <= {_REP_TOP_BIGRAM_MAX}) AS keep
    FROM tok_stats t LEFT JOIN bi_stats b ON b.doc_id = t.doc_id
    WHERE t.n > 0
"""


@register("t_repetition_filter", _REP_SQL)
def t_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering (the Gopher/C4 rule family):
    per document, the duplicate-token fraction (1 − distinct/total),
    the most-frequent-token mass, and the most-frequent-bigram mass,
    plus the keep/drop verdict at the standard-ish thresholds —
    repetitive boilerplate and keyword-stuffed spam light these up long
    before a model-based scorer runs. Complements t_quality_score
    (surface ratios) with fragment-repetition signals.

    Scale shape: tokenise once, two per-(doc, fragment) partial+final
    aggregations (token and bigram), then a doc-level rollup — all keys
    carry doc_id so the shuffles are hash-spread; raw text never rides
    a shuffle, and no window funnels a whole doc's stream through one
    row. All ratios are exact int/int divisions → bit-identical
    cross-engine."""
    from recommender_systems_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("ts")
    )
    flat = docs.select("doc_id", F.explode("ts").alias("tok"))
    tok_stats = (
        flat.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
    )
    bi = docs.filter(F.size("ts") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda j: F.concat_ws(
                    " ", F.element_at("ts", j), F.element_at("ts", j + 1)
                ),
            )
        ).alias("bg"),
    )
    bi_stats = (
        bi.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("bn"), F.max("c").alias("top_bc"))
    )
    n_d = F.col("n").cast("double")
    dup = 1.0 - F.col("n_distinct") / n_d
    topt = F.col("top_c") / n_d
    topb = F.coalesce(F.col("top_bc") / F.col("bn").cast("double"), F.lit(0.0))
    return (
        tok_stats.join(bi_stats, "doc_id", "left")
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.round(dup, 5).alias("dup_token_frac"),
            F.round(topt, 5).alias("top_token_frac"),
            F.round(topb, 5).alias("top_bigram_frac"),
            (
                (dup <= _REP_DUP_MAX)
                & (topt <= _REP_TOP_TOKEN_MAX)
                & (topb <= _REP_TOP_BIGRAM_MAX)
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Training-sequence packing (concatenate-and-chunk)
# ---------------------------------------------------------------------------

_SEQ_LEN = 512

_PACK_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {_SEQ_LEN} AS BIGINT) AS start_seq,
           CAST(greatest(cum - 1, cum - n_tokens) // {_SEQ_LEN} AS BIGINT)
               AS end_seq,
           CAST(greatest(cum - 1, cum - n_tokens) // {_SEQ_LEN}
                - (cum - n_tokens) // {_SEQ_LEN} + 1 AS BIGINT) AS n_seqs
    FROM c
"""


@register("t_pack_sequences", _PACK_SQL)
def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing — the step that turns a
    tokenised corpus into fixed-length training sequences (GPT-style
    pretraining: documents are concatenated in a deterministic order
    and the token stream is sliced every {_SEQ_LEN} tokens). Emits, per
    document, the running token offset mapped to the first/last
    training-sequence index it lands in and how many sequences it
    spans — exactly the index a sharded data loader needs to seek any
    sequence without re-tokenising.

    The global running total is the two-phase
    ``operators.relational.global_running_total`` (range-repartition +
    parallel in-partition windows + #partitions-row offset table) — NO
    single-partition global window, so the same plan packs a 100-TB
    corpus: the only data-sized shuffle is the range exchange on
    doc_id, and token counting is one whole-stage-codegen scan."""
    from recommender_systems_spark.functions.text import token_count
    from recommender_systems_spark.operators.relational import global_running_total

    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", token_count("text").cast("long").alias("n_tokens"))
    )
    from recommender_systems_spark.io import table_rows

    c = global_running_total(
        toks, "doc_id", "n_tokens", out_col="cum",
        approx_rows=table_rows(sf_dir, "documents"),
    )
    prev = F.col("cum") - F.col("n_tokens")
    last = F.greatest(F.col("cum") - 1, prev)
    start_seq = F.floor(prev / F.lit(_SEQ_LEN)).cast("long")
    end_seq = F.floor(last / F.lit(_SEQ_LEN)).cast("long")
    return c.select(
        "doc_id",
        "n_tokens",
        start_seq.alias("start_seq"),
        end_seq.alias("end_seq"),
        (end_seq - start_seq + F.lit(1)).cast("long").alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring (perplexity-style quality filter)
# ---------------------------------------------------------------------------

# Per-token surprisal -log2(cnt/total) is integer-scaled to millionths
# at the VOCAB level (one log2 per distinct token), so the per-document
# aggregation is an exact integer sum in both engines — the e_ndcg
# discount-table trick generalised to a data-dependent table.  The only
# cross-engine float risk is each vocab word's single log2 rounding
# differently at the 5e-7 boundary (~1e-9 per word).
_SURPRISAL_SCALE = 1_000_000

_SURPRISAL_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM freq),
    bits AS (
        SELECT tok,
               CAST(round(log2(CAST(total AS DOUBLE) / cnt)
                          * {_SURPRISAL_SCALE}) AS BIGINT) AS bits_ppm
        FROM freq, tot
    ),
    per AS (
        SELECT doc_id, count(*) AS n_tok, sum(bits_ppm) AS sum_bits
        FROM tok JOIN bits USING (tok)
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           round(sum_bits / n_tok / {_SURPRISAL_SCALE}.0, 4) AS avg_bits,
           round(pow(2.0, round(sum_bits / n_tok / {_SURPRISAL_SCALE}.0, 4)),
                 2) AS ppl
    FROM per
"""


@register("t_surprisal", _SURPRISAL_SQL)
def t_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the perplexity quality filter
    (CCNet / LLaMA-style corpus curation: score every document by its
    cross-entropy under a language model and gate on the score; here
    the LM is the corpus's own unigram distribution, the smallest model
    that exercises the full two-pass shape).

    Plan shape: pass 1 tokenises once and builds the vocab-sized
    (token, count) table; pass 2 re-joins surprisal-per-token onto the
    exploded tokens and sums per document.  The frequency table is
    vocab-sized — millions of rows at 100 TB, still broadcastable — so
    the scoring join is a broadcast hash join against the exploded
    stream and the ONLY data-sized shuffle is the per-doc_id aggregate
    carrying (doc_id, int) pairs.  For a vocab past the broadcast
    threshold: broadcast the Zipf head (covers ~99% of token mass) and
    shuffle-join only the tail — same results, bounded build side.

    Cross-engine determinism: per-token bits are integer millionths
    (see _SURPRISAL_SCALE note); the document score is an exact
    rational of two integers in both engines."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    bits = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log2(F.col("total").cast("double") / F.col("cnt"))
            * _SURPRISAL_SCALE
        )
        .cast("long")
        .alias("bits_ppm"),
    )
    per = (
        tok.join(F.broadcast(bits), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("bits_ppm").alias("sum_bits"),
        )
    )
    avg_bits = F.round(
        F.col("sum_bits") / F.col("n_tok") / F.lit(float(_SURPRISAL_SCALE)), 4
    )
    return per.select(
        "doc_id",
        "n_tok",
        avg_bits.alias("avg_bits"),
        F.round(F.pow(F.lit(2.0), avg_bits), 2).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# Temperature-weighted dataset mixture (data-mixing step)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3          # temperature exponent on token mass
_MIX_TARGET = 1_000_000   # target training-token budget

_MIX_SQL = f"""
    WITH src AS (
        SELECT source,
               count(*) AS n_docs,
               sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *, pow(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}) AS wt FROM src
    ),
    tot AS (SELECT sum(wt) AS wsum FROM w)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(wt / wsum, 6) AS mix_p,
           round(wt / wsum * {_MIX_TARGET} / n_tokens, 4) AS epochs
    FROM w, tot
    ORDER BY source
"""


@register("t_dataset_mixture", _MIX_SQL)
def t_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted dataset mixing — the step that turns
    per-source corpus statistics into sampling weights for training
    (up-weight small high-value sources, down-weight the crawl):
    p_source ∝ tokens^α with α={_MIX_ALPHA} (α=1 is natural
    proportions, α→0 uniform — the multilingual/data-mixture
    temperature trick), plus the implied epoch count over each source
    at a {_MIX_TARGET}-token training budget (epochs > 1 = the source
    repeats; the signal data engines alert on).

    One source-sized aggregate (token counting rides the scan), a
    1-row total broadcast, and scalar math — the cheapest query in the
    registry at any scale. Cross-engine floats: pow and the weight
    ratio are computed identically from exact integer token counts;
    only the final displayed values round."""
    docs = _t(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens"),
    )
    w = src.withColumn(
        "wt", F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA))
    )
    tot = w.agg(F.sum("wt").alias("wsum"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("wt") / F.col("wsum"), 6).alias("mix_p"),
            F.round(
                F.col("wt")
                / F.col("wsum")
                * F.lit(float(_MIX_TARGET))
                / F.col("n_tokens"),
                4,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Feature hashing (hashing-trick document vectors)
# ---------------------------------------------------------------------------

_FH_DIM = 32

_FH_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    b AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % {_FH_DIM}
                   AS bkt
        FROM tok
    ),
    cnt AS (SELECT doc_id, bkt, count(*) AS c FROM b GROUP BY doc_id, bkt),
    dense AS (
        SELECT g.doc_id, i.i, coalesce(c.c, 0) AS c
        FROM (SELECT DISTINCT doc_id FROM tok) g
        CROSS JOIN (SELECT unnest(range({_FH_DIM})) AS i) i
        LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.bkt = i.i
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tok,
           CAST(count(*) FILTER (c > 0) AS BIGINT) AS nnz,
           string_agg(CAST(c AS VARCHAR), ',' ORDER BY i) AS features
    FROM dense GROUP BY doc_id
"""


@register("t_feature_hashing", _FH_SQL)
def t_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): every document becomes a
    fixed-width {_FH_DIM}-dim term-count vector via token-hash
    bucketing — the stateless, vocabulary-free featuriser
    (HashingTF / Vowpal-Wabbit style) that at 100 TB replaces a
    CountVectorizer precisely because it needs NO fitted vocabulary
    broadcast and no second pass: width is fixed up front, collisions
    are the accepted trade.

    One shuffle on (doc_id, bucket) with map-side partials, then the
    dense vector assembles per doc from a {_FH_DIM}-entry map (no
    per-doc cross join — the dense grid exists only in the ORACLE's
    formulation; the Spark side fills gaps with try_element_at over a
    map literal built from the doc's own sparse entries). Bucket =
    md5 % {_FH_DIM}, identical in both engines; output serialised to
    CSV per the house hashing rule."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    b = tok.select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"),
            F.lit(_FH_DIM),
        ).alias("bkt"),
    )
    cnt = b.groupBy("doc_id", "bkt").agg(F.count(F.lit(1)).alias("c"))
    m = F.map_from_entries(F.collect_list(F.struct("bkt", "c")))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
        lambda i: F.coalesce(F.try_element_at(m, i), F.lit(0)),
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("nnz"),
        F.array_join(F.transform(dense, lambda v: v.cast("string")), ",").alias(
            "features"
        ),
    )


# ---------------------------------------------------------------------------
# PMI collocation mining (phrase induction signal)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 20

_PMI_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    uni AS (
        SELECT unnest(t) AS w FROM toks
    ),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT sum(c) AS n FROM ucnt),
    bi AS (
        SELECT t[i] AS x, t[i + 1] AS y
        FROM toks CROSS JOIN (SELECT unnest(range(1, 2000)) AS i)
        WHERE i < len(t)
    ),
    bcnt AS (SELECT x, y, count(*) AS c FROM bi GROUP BY x, y),
    nb AS (SELECT sum(c) AS n FROM bcnt),
    pmi AS (
        SELECT b.x, b.y, b.c,
               round(ln((CAST(b.c AS DOUBLE) / nb.n)
                        / ((CAST(cx.c AS DOUBLE) / nu.n)
                           * (CAST(cy.c AS DOUBLE) / nu.n))), 5) AS pmi
        FROM bcnt b
        JOIN ucnt cx ON cx.w = b.x
        JOIN ucnt cy ON cy.w = b.y
        CROSS JOIN nu CROSS JOIN nb
        WHERE b.c >= {_PMI_MIN_COUNT}
    )
    SELECT x, y, CAST(c AS BIGINT) AS c, pmi
    FROM pmi
    ORDER BY pmi DESC, x, y
    LIMIT {_PMI_TOP}
"""


@register("t_pmi_collocations", _PMI_SQL)
def t_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: score adjacent token pairs by pointwise
    mutual information ln(p(x,y)/(p(x)p(y))) and keep the top
    {_PMI_TOP} — the phrase-induction signal ("new york" vs "of the")
    a tokenizer-training pipeline computes right after BPE pair
    counting (t_bpe_pairs supplies the counting shape; PMI adds the
    statistical test that separates collocations from frequency).

    Tokenise once; bigrams explode in-plan; all three count tables
    aggregate with map-side partials and the two unigram joins are
    broadcast (vocab-sized). Counts are exact integers, PMI is ONE ln
    per surviving pair rounded before the ranking (house rule: rank on
    rounded values with total (pmi, x, y) tie-break), and the top-k is
    a TakeOrderedAndProject — nothing data-sized is globally sorted."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = ucnt.agg(F.sum("c").alias("nu"))
    bi = toks.select(
        F.explode(
            F.when(
                F.size("t") < 2, F.array()
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("x"),
                        F.element_at("t", i + 1).alias("y"),
                    ),
                )
            )
        ).alias("p")
    ).select("p.x", "p.y")
    bcnt = bi.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    nb = bcnt.agg(F.sum("c").alias("nb"))
    scored = (
        bcnt.filter(F.col("c") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ucnt.select(F.col("w").alias("x"), F.col("c").alias("cx"))), "x")
        .join(F.broadcast(ucnt.select(F.col("w").alias("y"), F.col("c").alias("cy"))), "y")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "x",
            "y",
            "c",
            F.round(
                F.log(
                    (F.col("c").cast("double") / F.col("nb"))
                    / (
                        (F.col("cx").cast("double") / F.col("nu"))
                        * (F.col("cy").cast("double") / F.col("nu"))
                    )
                ),
                5,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "x", "y")
        .limit(_PMI_TOP)
        .select("x", "y", F.col("c").cast("long").alias("c"), "pmi")
    )


# ---------------------------------------------------------------------------
# Blocklist content filter (safety wordlist gate)
# ---------------------------------------------------------------------------

_BLOCKLIST = ["slow", "error", "big"]
_BLOCK_MAX_HITS = 3
_BLOCK_MAX_RATE = 0.03


def _block_sql_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in _BLOCKLIST) + "]"


_BLOCK_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tok,
           CAST(len(list_filter(toks,
                    x -> list_contains({_block_sql_list()}, x)))
                AS BIGINT) AS n_hits,
           round(CAST(len(list_filter(toks,
                    x -> list_contains({_block_sql_list()}, x))) AS DOUBLE)
                 / greatest(len(toks), 1), 5) AS hit_rate,
           CAST(len(list_filter(toks,
                    x -> list_contains({_block_sql_list()}, x)))
                    <= {_BLOCK_MAX_HITS}
                AND CAST(len(list_filter(toks,
                    x -> list_contains({_block_sql_list()}, x))) AS DOUBLE)
                    / greatest(len(toks), 1) <= {_BLOCK_MAX_RATE}
                AS INTEGER) AS keep
    FROM t
"""


@register("t_blocklist_filter", _BLOCK_SQL)
def t_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist content filter: per document, hits against a term
    blocklist, the hit RATE, and the keep/drop verdict (absolute cap
    AND rate cap) — the wordlist safety gate every pre-training
    curation pipeline runs before the statistical filters (the C4
    badwords pass; here the list is a stand-in inventory shared with
    the oracle, production swaps in the real list without touching
    the plan).

    Single traversal: tokens bind once, the hit count is one
    list-filter over the broadcast-literal inventory (JVM codegen, no
    UDF), and rate/verdict derive in the same projection. The verdict
    compares an exact int/int rational against shared literals —
    bit-identical in both engines."""
    docs = _t(spark, sf_dir, "documents")
    vocab = F.array(*[F.lit(w) for w in _BLOCKLIST])
    toks = tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, lambda x: F.array_contains(vocab, x)))
        .cast("long")
        .alias("n_hits"),
    )
    rate = F.col("n_hits").cast("double") / F.greatest(F.col("n_tok"), F.lit(1))
    return d.select(
        "doc_id",
        "n_tok",
        "n_hits",
        F.round(rate, 5).alias("hit_rate"),
        (
            (F.col("n_hits") <= _BLOCK_MAX_HITS)
            & (rate <= _BLOCK_MAX_RATE)
        ).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Inverted index build (posting lists)
# ---------------------------------------------------------------------------

_IDX_MAX_POSTINGS = 20

_IDX_SQL = f"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    post AS (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
               count(*) OVER (PARTITION BY term) AS df
        FROM tok
    )
    SELECT term,
           CAST(min(df) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings_head
    FROM post
    WHERE rn <= {_IDX_MAX_POSTINGS}
    GROUP BY term
"""


@register("t_inverted_index", _IDX_SQL)
def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + the first
    {_IDX_MAX_POSTINGS} postings (doc ids ascending) — the structure
    under every keyword search and the lookup side of contamination/
    attribution tooling (t_contamination probes an n-gram variant of
    exactly this).

    Distinct (doc, term) pairs first (presence index, not positions —
    dedup BEFORE the shuffle so a term repeated in one doc ships
    once), then ONE term-keyed window ranks postings and counts df in
    the same exchange. The emitted posting list is explicitly
    HEAD-capped — at 100 TB full postings for stopwords are the skew
    pathology (a_skew_profile's subject); real indexes shard exactly
    this way — and serialised per the house hashing rule."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).distinct()
    w = Window.partitionBy("term").orderBy("doc_id")
    wc = Window.partitionBy("term")
    post = tok.select(
        "term",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("df"),
    )
    return (
        post.filter(F.col("rn") <= _IDX_MAX_POSTINGS)
        .groupBy("term")
        .agg(
            F.min("df").cast("long").alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
    )


# ---------------------------------------------------------------------------
# Interpolated bigram-LM surprisal (the two-pass LM quality score)
# ---------------------------------------------------------------------------

_BG_LAMBDA = 0.7  # bigram weight; 1-λ backs off to the unigram


_BG_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    uni AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT sum(c) AS n FROM ucnt),
    dbg AS (
        SELECT doc_id, t[i] AS x, t[i + 1] AS y
        FROM toks CROSS JOIN (SELECT unnest(range(1, 2000)) AS i)
        WHERE i < len(t)
    ),
    bcnt AS (SELECT x, y, count(*) AS c FROM dbg GROUP BY x, y),
    hist AS (SELECT x, sum(c) AS ch FROM bcnt GROUP BY x),
    bits AS (
        SELECT b.x, b.y,
               CAST(round(-log2({_BG_LAMBDA} * CAST(b.c AS DOUBLE) / h.ch
                          + {round(1 - _BG_LAMBDA, 10)}
                            * CAST(u.c AS DOUBLE) / nu.n)
                          * 1000000) AS BIGINT) AS bits_ppm
        FROM bcnt b
        JOIN hist h ON h.x = b.x
        JOIN ucnt u ON u.w = b.y
        CROSS JOIN nu
    ),
    per AS (
        SELECT d.doc_id, count(*) AS n_bigrams, sum(bits_ppm) AS sb
        FROM dbg d JOIN bits ON bits.x = d.x AND bits.y = d.y
        GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(sb / n_bigrams / 1000000.0, 4) AS avg_bits,
           round(pow(2.0, round(sb / n_bigrams / 1000000.0, 4)), 2) AS ppl
    FROM per
"""


@register("t_bigram_surprisal", _BG_SQL)
def t_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM surprisal: per-document cross-entropy
    under p(y|x) = λ·c(xy)/c(x·) + (1−λ)·c(y)/N — the step from
    t_surprisal's unigram to a real conditional LM with backoff
    smoothing (unseen-in-context words cost the unigram rate, not ∞),
    which is the shape CCNet's KenLM filter takes at order 5.

    Same engineering as t_surprisal: the surprisal table is
    integer-scaled at the BIGRAM-vocab level so per-doc sums are
    exact; bigram history counts come from the bigram table itself
    (Σ_y c(x,y)), not the unigram count — exact conditional mass. The
    bigram table is vocab²-bounded and broadcast here; past the
    broadcast threshold the scoring join shuffles on (x, y) — noted,
    same head/tail split as the unigram case."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    # The two LM count tables are vocab- / vocab²-bounded and each is
    # referenced twice (ucnt by nu + the bits join; bcnt by hist + the
    # bits join). Unmaterialised, every reference re-ran the corpus
    # tokenise+explode — 5 corpus passes where the two-pass-LM floor
    # is 3. Round-13 part 2: the unigram and bigram counts now come
    # from ONE mixed-key explode (kind 0 = unigram, kind 1 = bigram —
    # grouped counts are grouping-invariant exact integers, so
    # splitting the combined table by kind reproduces both tables
    # bit-for-bit), reaching the true 2-pass floor: count once, score
    # once. The combined count table is still vocab²-bounded and is
    # the one materialised frame (guide §2.4/§5: persist the small
    # model, not the exploded corpus).
    null_s = F.lit(None).cast("string")
    mixed = F.concat(
        F.transform(
            "t",
            lambda w: F.struct(
                F.lit(0).alias("k"), w.alias("x"), null_s.alias("y")
            ),
        ),
        F.when(
            F.size("t") < 2,
            F.array().cast("array<struct<k:int,x:string,y:string>>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.lit(1).alias("k"),
                    F.element_at("t", i).alias("x"),
                    F.element_at("t", i + 1).alias("y"),
                ),
            )
        ),
    )
    combo = (
        toks.select(F.explode(mixed).alias("p"))
        .groupBy(F.col("p.k").alias("k"), F.col("p.x").alias("x"),
                 F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, sf_dir)
    )
    ucnt = combo.filter(F.col("k") == 0).select(
        F.col("x").alias("w"), "c"
    )
    nu = ucnt.agg(F.sum("c").alias("n"))
    dbg = toks.select(
        "doc_id",
        F.explode(
            F.when(F.size("t") < 2, F.array()).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("x"),
                        F.element_at("t", i + 1).alias("y"),
                    ),
                )
            )
        ).alias("p"),
    ).select("doc_id", "p.x", "p.y")
    bcnt = combo.filter(F.col("k") == 1).select("x", "y", "c")
    hist = bcnt.groupBy("x").agg(F.sum("c").alias("ch"))
    bits = (
        bcnt.join(F.broadcast(hist), "x")
        .join(
            F.broadcast(ucnt.select(F.col("w").alias("y"), F.col("c").alias("cy"))),
            "y",
        )
        .crossJoin(F.broadcast(nu))
        .select(
            "x",
            "y",
            F.round(
                -F.log2(
                    _BG_LAMBDA * F.col("c").cast("double") / F.col("ch")
                    + round(1 - _BG_LAMBDA, 10)
                    * F.col("cy").cast("double")
                    / F.col("n")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("bits_ppm"),
        )
    )
    per = (
        dbg.join(F.broadcast(bits), ["x", "y"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("bits_ppm").alias("sb"),
        )
    )
    avg_bits = F.round(F.col("sb") / F.col("n_bigrams") / F.lit(1e6), 4)
    return per.select(
        "doc_id",
        "n_bigrams",
        avg_bits.alias("avg_bits"),
        F.round(F.pow(F.lit(2.0), avg_bits), 2).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# Per-source vocabulary divergence (corpus drift / mixture diagnostics)
# ---------------------------------------------------------------------------

_KL_SCALE = 1_000_000

_VOCAB_DIV_SQL = f"""
    WITH tok AS (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    sc AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    cc AS (SELECT tok, sum(c) AS cc FROM sc GROUP BY 1),
    st AS (SELECT source, sum(c) AS ns, count(*) AS n_terms FROM sc GROUP BY 1),
    nn AS (SELECT sum(cc) AS n FROM cc),
    contrib AS (
        SELECT sc.source, sc.c,
               CAST(round(log2((CAST(sc.c AS DOUBLE) * nn.n)
                               / (CAST(st.ns AS DOUBLE) * cc.cc))
                          * {_KL_SCALE}) AS BIGINT) AS bits_ppm
        FROM sc
        JOIN cc USING (tok)
        JOIN st USING (source)
        CROSS JOIN nn
    )
    SELECT contrib.source,
           CAST(st.ns AS BIGINT) AS n_tok,
           CAST(st.n_terms AS BIGINT) AS n_terms,
           round(sum(contrib.c * contrib.bits_ppm) / st.ns
                 / {_KL_SCALE}.0, 4) AS kl_bits
    FROM contrib JOIN st ON st.source = contrib.source
    GROUP BY contrib.source, st.ns, st.n_terms
"""


@register("t_vocab_divergence", _VOCAB_DIV_SQL)
def t_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary KL divergence to the corpus-wide unigram
    distribution — the dataset-mixture drift diagnostic (which sources
    are lexically far from the blend, the signal behind up/down-
    weighting decisions and the categorical sibling of a_psi_drift's
    numeric PSI monitor).

    KL(source‖corpus) = Σ_t p_t·log2(p_t/q_t) over the source's own
    terms (q_t > 0 wherever p_t > 0 by construction, so no smoothing
    is needed).

    Scale shape: ONE raw-text scan; the (source, term) count table is
    the only data-sized aggregate, and everything downstream is
    vocab-sized — the corpus table derives from the per-source table
    (map-side partials, no second scan), per-source totals are a
    sources-sized broadcast, and N is a 1-row cross join. Cross-engine
    determinism is t_surprisal's scheme: log2 is taken at the
    vocab level on identical double quotients of exact integers,
    rounded to integer millionths, then multiplied by exact counts and
    summed — both engines sum the same integers."""
    docs = _t(spark, sf_dir, "documents")
    sc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sc = materialize(sc, sf_dir)  # scanned 3× (corpus counts, totals, contribs)
    cc = sc.groupBy("tok").agg(F.sum("c").alias("cc"))
    st = sc.groupBy("source").agg(
        F.sum("c").alias("ns"), F.count(F.lit(1)).alias("n_terms")
    )
    nn = cc.agg(F.sum("cc").alias("n"))
    contrib = (
        sc.join(F.broadcast(cc), "tok")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "c",
            "ns",
            "n_terms",
            F.round(
                F.log2(
                    (F.col("c").cast("double") * F.col("n"))
                    / (F.col("ns").cast("double") * F.col("cc"))
                )
                * _KL_SCALE
            )
            .cast("long")
            .alias("bits_ppm"),
        )
    )
    return (
        contrib.groupBy("source", "ns", "n_terms")
        .agg(F.sum(F.col("c") * F.col("bits_ppm")).alias("sb"))
        .select(
            "source",
            F.col("ns").cast("long").alias("n_tok"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.round(F.col("sb") / F.col("ns") / float(_KL_SCALE), 4).alias(
                "kl_bits"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Model-based quality classifier inference (linear scorer in-plan)
# ---------------------------------------------------------------------------

# Fixed published-style weights (a fastText/logreg quality gate's
# inference half; training such a scorer is standard MLlib). Shared
# literals on both engine sides.
_QC_W0 = -2.0       # intercept
_QC_W_LEN = 0.5     # tokens / 100
_QC_W_DIV = 2.0     # lexical diversity (distinct/total)
_QC_W_MTL = 0.3     # mean token length
_QC_W_STOP = 4.0    # en-stopword ratio
_QC_THRESHOLD = 0.5

_QC_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               len(toks) AS n_tok,
               len(list_distinct(toks)) AS n_distinct,
               list_sum(list_transform(toks, tk -> length(tk))) AS n_chars,
               {_hits_sql("en")} AS n_stop
        FROM t
    ),
    z AS (
        SELECT doc_id,
               {_QC_W0}
               + {_QC_W_LEN} * (n_tok / 100.0)
               + {_QC_W_DIV} * (n_distinct / CAST(greatest(n_tok, 1) AS DOUBLE))
               + {_QC_W_MTL} * (n_chars / CAST(greatest(n_tok, 1) AS DOUBLE))
               + {_QC_W_STOP} * (n_stop / CAST(greatest(n_tok, 1) AS DOUBLE))
                   AS logit
        FROM f
    )
    SELECT doc_id,
           round(logit, 6) AS logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
           CAST(round(1.0 / (1.0 + exp(-logit)), 6) >= {_QC_THRESHOLD}
                AS BOOLEAN) AS keep
    FROM z
"""


@register("t_quality_classifier", _QC_SQL)
def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate: logistic-scorer INFERENCE in-plan —
    the shape of a fastText/logreg quality classifier applied at
    curation time (CCNet / LLaMA-style "model-based filtering"), with
    fixed literal weights over exact-rational surface features
    (tokens/100, lexical diversity, mean token length, stopword
    ratio). Complements t_quality_score (hand rules) and
    t_repetition_filter (fragment repetition): together they are the
    full heuristic→model filter ladder.

    Scale shape: single traversal — tokenise once, every feature folds
    over the same array in one codegen'd projection; NO shuffle at all
    (the classifier is embarrassingly parallel, the ideal 100-TB
    operator). A trained-weights swap is a literal change; a
    vocabulary-hashing upgrade is t_feature_hashing's plumbing. The
    keep verdict derives from the ROUNDED probability so cross-engine
    exp() ulp drift cannot flip it."""
    from recommender_systems_spark.functions.text import (
        STOPWORDS,
        _stopword_hits,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("n_chars"),
        _stopword_hits(toks, STOPWORDS["en"]).alias("n_stop"),
    )
    nt = F.greatest(F.col("n_tok"), F.lit(1)).cast("double")
    logit = (
        F.lit(_QC_W0)
        + F.lit(_QC_W_LEN) * (F.col("n_tok") / 100.0)
        + F.lit(_QC_W_DIV) * (F.col("n_distinct") / nt)
        + F.lit(_QC_W_MTL) * (F.col("n_chars") / nt)
        + F.lit(_QC_W_STOP) * (F.col("n_stop") / nt)
    )
    prob = F.round(1.0 / (1.0 + F.exp(-F.col("logit"))), 6)
    return (
        d.withColumn("logit", logit)
        .select(
            "doc_id",
            F.round("logit", 6).alias("logit"),
            prob.alias("prob"),
            (prob >= _QC_THRESHOLD).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier (model-as-aggregation)
# ---------------------------------------------------------------------------

NB_LANGS = ["de", "en", "es", "fr", "zh"]  # the corpus's lang enum
_NB_SCALE = 1_000_000

_NB_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

_NB_MODEL_COLS = ", ".join(
    f"max(CASE WHEN lang = '{lg}' THEN c END) AS c_{lg}" for lg in NB_LANGS
)
_NB_LL_COLS = ", ".join(
    f"CAST(round(ln((COALESCE(c_{lg}, 0) + 1.0) / (n_{lg} + v)) * {_NB_SCALE}) "
    f"AS BIGINT) AS ll_{lg}"
    for lg in NB_LANGS
)
_NB_TOTALS = ", ".join(
    f"sum(CASE WHEN lang = '{lg}' THEN c ELSE 0 END) AS n_{lg}" for lg in NB_LANGS
)
_NB_DEFAULTS = ", ".join(
    f"CAST(round(ln(1.0 / (n_{lg} + v)) * {_NB_SCALE}) AS BIGINT) AS def_{lg}"
    for lg in NB_LANGS
)
# Priors are Laplace-smoothed (+1 / +|langs|): a language absent from the
# even-doc_id training split must not drive ln(0) — DuckDB hard-errors on
# it while F.log returns NULL, an asymmetric cross-engine failure.
_NB_PRIORS = ", ".join(
    f"CAST(round(ln((sum(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END) + 1.0)"
    f" / (count(*) + {len(NB_LANGS)})) * {_NB_SCALE}) AS BIGINT) AS pr_{lg}"
    for lg in NB_LANGS
)
_NB_SUMS = ", ".join(
    f"sum(COALESCE(ll_{lg}, def_{lg})) + max(pr_{lg}) AS s_{lg}" for lg in NB_LANGS
)
_NB_STACK = " UNION ALL ".join(
    f"SELECT doc_id, lang_actual, '{lg}' AS lang_guess, s_{lg} AS score FROM scored"
    for lg in NB_LANGS
)

_NB_SQL = f"""
    WITH train AS (
        SELECT lang, {_NB_TOKS} AS toks FROM documents WHERE doc_id % 2 = 0
    ),
    test AS (
        SELECT doc_id, lang AS lang_actual, {_NB_TOKS} AS toks
        FROM documents WHERE doc_id % 2 = 1
    ),
    counts AS (
        SELECT lang, unnest(toks) AS tok, 1 AS one FROM train
    ),
    cagg AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             FROM counts GROUP BY lang, tok),
    stats AS (
        SELECT {_NB_TOTALS}, CAST(count(DISTINCT tok) AS BIGINT) AS v
        FROM cagg
    ),
    priors AS (SELECT {_NB_PRIORS} FROM train),
    model AS (
        SELECT tok, {_NB_MODEL_COLS} FROM cagg GROUP BY tok
    ),
    ll AS (SELECT tok, {_NB_LL_COLS} FROM model CROSS JOIN stats),
    defaults AS (SELECT {_NB_DEFAULTS} FROM stats),
    ttok AS (
        SELECT doc_id, lang_actual, unnest(toks) AS tok FROM test
    ),
    joined AS (
        SELECT t.doc_id, t.lang_actual,
               {", ".join(f"ll.ll_{lg}" for lg in NB_LANGS)},
               {", ".join(f"d.def_{lg}" for lg in NB_LANGS)},
               {", ".join(f"p.pr_{lg}" for lg in NB_LANGS)}
        FROM ttok t
        LEFT JOIN ll ON ll.tok = t.tok
        CROSS JOIN defaults d CROSS JOIN priors p
    ),
    scored AS (
        SELECT doc_id, lang_actual, {_NB_SUMS}
        FROM joined GROUP BY doc_id, lang_actual
    ),
    stacked AS ({_NB_STACK}),
    best AS (
        SELECT doc_id, lang_actual, lang_guess FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, lang_guess ASC)
                          AS rn
            FROM stacked)
        WHERE rn = 1
    )
    SELECT lang_actual, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang_guess = lang_actual THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN lang_guess = lang_actual THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS accuracy
    FROM best
    GROUP BY lang_actual
"""


@register("t_naive_bayes_lang", _NB_SQL)
def t_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained and evaluated
    entirely in-plan — the "model is an aggregation" pattern: token
    likelihoods ARE the (lang, token) count table with +1 smoothing,
    so training is one groupBy and inference is one broadcast join.
    Train = even doc_ids, test = odd; reports per-language accuracy
    (the learned-model counterpart of the stopword heuristic that
    e_confusion_matrix evaluates).

    Scale shape: the model is vocab-sized — broadcast; the only
    data-sized shuffle is the per-doc score aggregate carrying
    (doc_id, 5 longs). Per-token log-likelihoods are integer
    millionths (the t_surprisal scale convention), so per-doc sums are
    EXACT integer arithmetic in both engines and the 5-way argmax
    (score desc, lang asc) can never flip on accumulation order."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).select(
        "lang", tokens(F.col("text")).alias("toks")
    )
    test = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col("lang").alias("lang_actual"),
        tokens(F.col("text")).alias("toks"),
    )
    # vocab×langs-sized; referenced by the stats broadcast AND the
    # pivoted model — unmaterialised, the corpus explode + exchange ran
    # twice (round-13).
    cagg = (
        train.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, sf_dir)
    )
    stats = cagg.agg(
        *[
            F.sum(F.when(F.col("lang") == lg, F.col("c")).otherwise(0)).alias(
                f"n_{lg}"
            )
            for lg in NB_LANGS
        ],
        F.count_distinct("tok").alias("v"),
    )
    priors = train.agg(
        *[
            F.round(
                F.log(
                    (
                        F.sum(F.when(F.col("lang") == lg, 1).otherwise(0))
                        + F.lit(1.0)
                    )
                    / (F.count(F.lit(1)) + F.lit(len(NB_LANGS)))
                )
                * _NB_SCALE
            )
            .cast("long")
            .alias(f"pr_{lg}")
            for lg in NB_LANGS
        ]
    )
    model = cagg.groupBy("tok").pivot("lang", NB_LANGS).agg(F.first("c"))
    ll = model.crossJoin(F.broadcast(stats)).select(
        "tok",
        *[
            F.round(
                F.log(
                    (F.coalesce(F.col(lg), F.lit(0)) + F.lit(1.0))
                    / (F.col(f"n_{lg}") + F.col("v"))
                )
                * _NB_SCALE
            )
            .cast("long")
            .alias(f"ll_{lg}")
            for lg in NB_LANGS
        ],
    )
    defaults = stats.select(
        *[
            F.round(F.log(F.lit(1.0) / (F.col(f"n_{lg}") + F.col("v"))) * _NB_SCALE)
            .cast("long")
            .alias(f"def_{lg}")
            for lg in NB_LANGS
        ]
    )
    ttok = test.select("doc_id", "lang_actual", F.explode("toks").alias("tok"))
    joined = (
        ttok.join(F.broadcast(ll), "tok", "left")
        .crossJoin(F.broadcast(defaults))
        .crossJoin(F.broadcast(priors))
    )
    scored = joined.groupBy("doc_id", "lang_actual").agg(
        *[
            (
                F.sum(F.coalesce(F.col(f"ll_{lg}"), F.col(f"def_{lg}")))
                + F.max(F.col(f"pr_{lg}"))
            ).alias(f"s_{lg}")
            for lg in NB_LANGS
        ]
    )
    stacked = scored.selectExpr(
        "doc_id",
        "lang_actual",
        "stack({n}, {args}) AS (lang_guess, score)".format(
            n=len(NB_LANGS),
            args=", ".join(f"'{lg}', s_{lg}" for lg in NB_LANGS),
        ),
    )
    from pyspark.sql import Window

    wbest = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang_guess").asc()
    )
    best = (
        stacked.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang_actual", "lang_guess")
    )
    correct = F.sum(
        F.when(F.col("lang_guess") == F.col("lang_actual"), 1).otherwise(0)
    )
    return best.groupBy("lang_actual").agg(
        F.count(F.lit(1)).alias("n_docs"),
        correct.alias("n_correct"),
        F.round(correct.cast("double") / F.count(F.lit(1)), 6).alias("accuracy"),
    )


_CARD_SQL = """
    WITH t AS (
        SELECT doc_id, lang, text, n_chars,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok,
               md5(text) AS fp
        FROM documents
    ),
    agg AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(sum(n_tok) AS DOUBLE) AS total_tokens,
               CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS pct_en,
               1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*)
                   AS exact_dup_rate,
               CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
               quantile_cont(n_chars, 0.5) AS p50_chars
        FROM t
    )
    SELECT 'n_docs' AS metric, round(n_docs, 6) AS value FROM agg
    UNION ALL SELECT 'total_tokens', round(total_tokens, 6) FROM agg
    UNION ALL SELECT 'avg_tokens_per_doc',
                     round(total_tokens / n_docs, 6) FROM agg
    UNION ALL SELECT 'n_langs', round(n_langs, 6) FROM agg
    UNION ALL SELECT 'pct_en', round(pct_en, 6) FROM agg
    UNION ALL SELECT 'exact_dup_rate', round(exact_dup_rate, 6) FROM agg
    UNION ALL SELECT 'mean_chars', round(mean_chars, 6) FROM agg
    UNION ALL SELECT 'p50_chars', round(p50_chars, 6) FROM agg
"""


@register("t_dataset_card", _CARD_SQL)
def t_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the one-query corpus summary a dataset release
    ships with (HuggingFace/Datasheets style) — size, token budget,
    language mix, exact-duplicate rate, length profile — so the
    "describe this 100 TB corpus" job is ONE scan, not a notebook of
    ad-hoc passes.

    Scale shape: every metric is a sibling aggregate over the same
    single traversal (tokenise once, fingerprint once); the unpivot to
    (metric, value) rows touches an 8-row frame. Distinct counts are
    the only shuffles and both carry fixed-width keys."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "n_chars",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.md5("text").alias("fp"),
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_tok").cast("double").alias("total_tokens"),
        F.count_distinct("lang").cast("double").alias("n_langs"),
        (
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("pct_en"),
        (
            F.lit(1.0)
            - F.count_distinct("fp").cast("double") / F.count(F.lit(1))
        ).alias("exact_dup_rate"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
        F.percentile("n_chars", F.lit(0.5)).alias("p50_chars"),
    )
    metrics = [
        ("n_docs", F.col("n_docs")),
        ("total_tokens", F.col("total_tokens")),
        ("avg_tokens_per_doc", F.col("total_tokens") / F.col("n_docs")),
        ("n_langs", F.col("n_langs")),
        ("pct_en", F.col("pct_en")),
        ("exact_dup_rate", F.col("exact_dup_rate")),
        ("mean_chars", F.col("mean_chars")),
        ("p50_chars", F.col("p50_chars")),
    ]
    stacked = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("metric"),
                             F.round(c, 6).alias("value"))
                    for m, c in metrics
                ]
            )
        ).alias("kv")
    ).select("kv.metric", "kv.value")
    return stacked


_ATTRITION_SQL = f"""
    {_SCORED_PREFIX},
    d AS (
        SELECT doc_id, quality, lang_guess,
               {_PIPE_FP} AS fp, length(text) AS n_chars
        FROM scored
    ),
    after_quality AS (SELECT * FROM d WHERE quality >= {QUALITY_CUTOFF}),
    after_lang AS (SELECT * FROM after_quality WHERE lang_guess = 'en'),
    after_dedup AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fp, n_chars
                                         ORDER BY doc_id) AS rn
            FROM after_lang)
        WHERE rn = 1
    )
    SELECT 'ingested' AS stage, CAST((SELECT count(*) FROM d) AS BIGINT)
               AS n_surviving, 0 AS stage_order
    UNION ALL
    SELECT 'quality_gate', CAST((SELECT count(*) FROM after_quality) AS BIGINT), 1
    UNION ALL
    SELECT 'language_gate', CAST((SELECT count(*) FROM after_lang) AS BIGINT), 2
    UNION ALL
    SELECT 'exact_dedup', CAST((SELECT count(*) FROM after_dedup) AS BIGINT), 3
"""


@register("t_curation_attrition", _ATTRITION_SQL)
def t_curation_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage attrition of the curation pipeline: how many
    documents survive ingest → quality gate → language gate → exact
    dedup — the ops-facing funnel report next to t_curation_pipeline's
    survivor statistics (when a nightly corpus build shrinks, THIS
    query says which gate did it). Same gates, same constants, same
    kernels — so the two queries can never disagree about the
    pipeline's semantics.

    Scale shape: one tokenise-once scan computes every per-doc gate
    input; the four stage counts are conditional aggregates over ONE
    frame (the dedup stage needs its row_number, whose window input is
    the post-gate subset keyed by 8-byte fingerprints). Counts are
    exact integers."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "__toks", tokens(F.col("text"))
    )
    d = docs.select(
        "doc_id",
        F.round(
            quality_score(F.col("text"), toks=F.col("__toks")), 6
        ).alias("quality"),
        language_id(F.col("text"), toks=F.col("__toks")).alias("lang_guess"),
        rolling_fingerprint(F.col("text")).alias("fp"),
        F.length("text").alias("n_chars"),
    )
    after_quality = d.filter(F.col("quality") >= QUALITY_CUTOFF)
    after_lang = after_quality.filter(F.col("lang_guess") == "en")
    w = Window.partitionBy("fp", "n_chars").orderBy("doc_id")
    after_dedup = after_lang.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    stages = [
        ("ingested", d, 0),
        ("quality_gate", after_quality, 1),
        ("language_gate", after_lang, 2),
        ("exact_dedup", after_dedup, 3),
    ]
    out = None
    for name, frame, order in stages:
        row = frame.agg(F.count(F.lit(1)).alias("n_surviving")).select(
            F.lit(name).alias("stage"),
            "n_surviving",
            F.lit(order).cast("int").alias("stage_order"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# t_perplexity_buckets — CCNet-style per-language perplexity terciles
# ---------------------------------------------------------------------------

_PPLB_SQL = f"""
    WITH scored AS (SELECT doc_id, avg_bits FROM ({_BG_SQL}) s),
    ld AS (
        SELECT d.lang, s.doc_id, s.avg_bits
        FROM scored s JOIN documents d USING (doc_id)
    ),
    dist AS (SELECT lang, avg_bits, count(*) AS c FROM ld GROUP BY 1, 2),
    cum AS (
        SELECT lang, avg_bits,
               SUM(c) OVER (PARTITION BY lang ORDER BY avg_bits) AS cumt
        FROM dist
    ),
    nl AS (SELECT lang, count(*) AS n FROM ld GROUP BY 1),
    bucket AS (
        SELECT c.lang, c.avg_bits,
               least(CAST(ceil(3.0 * cumt / n) AS INT), 3) AS bucket
        FROM cum c JOIN nl USING (lang)
    ),
    lb AS (
        SELECT ld.lang, ld.doc_id, ld.avg_bits, b.bucket
        FROM ld JOIN bucket b
          ON b.lang = ld.lang AND b.avg_bits = ld.avg_bits
    )
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           round(min(avg_bits), 4) AS min_bits,
           round(max(avg_bits), 4) AS max_bits
    FROM lb GROUP BY 1, 2
"""


@register("t_perplexity_buckets", _PPLB_SQL)
def t_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020): score every
    document with the bigram-LM cross-entropy (t_bigram_surprisal's
    integer-exact avg_bits) and cut each LANGUAGE into head/middle/tail
    terciles — bucket 1 (lowest bits) is the fluent slice kept for
    training, 3 the tail a curator samples for manual review. Reports
    per-(lang, bucket) document counts and the bits cutoffs.

    Scale shape: the LM scoring reuses t_bigram_surprisal's plan
    unchanged; the tercile cut runs on the DISTINCT (lang, avg_bits)
    value table (4dp grid — far smaller than the corpus) with a
    per-language ordered window over those values only, then one
    broadcast-back bucket join. Parity: avg_bits is already snapped to
    the 4dp grid before the cut (snap-before-reuse rule), and the
    ceil(3·cum/n) boundary is an exact-operand IEEE division of
    integers in both engines."""
    scored = t_bigram_surprisal(spark, sf_dir).select("doc_id", "avg_bits")
    ld = scored.join(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )
    # The corpus-scored frame is consumed exactly ONCE (this
    # aggregate). Everything downstream — per-language totals, bucket
    # cut-offs, per-bucket doc counts and min/max bits — rides the
    # DISTINCT (lang, avg_bits) value table: n_docs = Σc is the same
    # exact integer and min/max over distinct values equals min/max
    # over documents. The r12 shape re-referenced ld three times,
    # inlining the whole bigram-LM scoring lineage per reference
    # (36 parquet scans in the final plan → 12; zero data-sized joins
    # after the aggregate) — round-13, guide §2.3/§2.4.
    dist = ld.groupBy("lang", "avg_bits").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("avg_bits")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Per-language total n = the full-partition max of the running
    # total (identical exact integer to Σc) via a second window over
    # the SAME hash(lang) partitioning — no extra exchange, and dist
    # stays single-referenced (a groupBy+join form re-inlined the
    # scoring lineage a second time: 24 parquet scans, not 12).
    wall = Window.partitionBy("lang")
    cum = dist.withColumn("cumt", F.sum("c").over(wcum)).withColumn(
        "n", F.max(F.col("cumt")).over(wall)
    )
    bucket = cum.select(
        "lang",
        "avg_bits",
        "c",
        F.least(
            F.ceil(F.lit(3.0) * F.col("cumt") / F.col("n")).cast("int"),
            F.lit(3),
        ).alias("bucket"),
    )
    return bucket.groupBy("lang", "bucket").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.round(F.min("avg_bits"), 4).alias("min_bits"),
        F.round(F.max("avg_bits"), 4).alias("max_bits"),
    )


# ---------------------------------------------------------------------------
# Readability profile (Flesch reading ease from corpus-exact counts)
# ---------------------------------------------------------------------------

_READ_SQL = """
    WITH m AS (
        SELECT source, lang,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                    AS BIGINT) AS words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sents,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS sylls
        FROM documents
    ),
    d AS (
        SELECT source, lang, words, sents, sylls,
               206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)
                       - 84.6 * (CAST(sylls AS DOUBLE) / words) AS flesch
        FROM m WHERE words > 0
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS words,
           round(CAST(sum(words) AS DOUBLE) / sum(sents), 6)
               AS words_per_sent,
           round(CAST(sum(sylls) AS DOUBLE) / sum(words), 6)
               AS sylls_per_word,
           round(206.835 - 1.015 * (CAST(sum(words) AS DOUBLE) / sum(sents))
                         - 84.6 * (CAST(sum(sylls) AS DOUBLE) / sum(words)),
                 6) AS flesch_pooled,
           CAST(sum(CASE WHEN flesch >= 70.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_easy,
           CAST(sum(CASE WHEN flesch < 50.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hard
    FROM d
    GROUP BY source, lang
"""


@register("t_readability", _READ_SQL)
def t_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability profile per (source, lang): Flesch reading ease from
    syllable-group / word / sentence counts (syllables ≈ vowel-group
    runs, the standard dictionary-free approximation), pooled at the
    group level plus easy (≥70) / hard (<50) per-document buckets — the
    curation signal that separates encyclopedic prose from boilerplate
    and OCR noise, complementing t_quality_score's surface ratios with
    a sentence-structure axis.

    Scale shape: ONE scan, all counts from the same
    ``regexp_extract_all`` tokenise the rest of the text family uses
    (JVM regexp built-ins, codegen'd), one hash aggregate on the
    (source, lang) dimension. The pooled Flesch divides EXACT integer
    sums (never an order-dependent double mean — the cross-engine float
    rule); the per-doc bucket cut-offs compare deterministic scalar
    expressions, so no pre-rounding is needed anywhere."""
    low = F.lower(F.col("text"))
    m = _t(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.regexp_extract_all(low, F.lit("[a-z]+"), 0))
        .cast("long")
        .alias("words"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("long")
        .alias("sents"),
        F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0))
        .cast("long")
        .alias("sylls"),
    )
    d = m.filter(F.col("words") > 0).withColumn(
        "flesch",
        F.lit(206.835)
        - 1.015 * (F.col("words").cast("double") / F.col("sents"))
        - 84.6 * (F.col("sylls").cast("double") / F.col("words")),
    )
    sw, ss, sy = F.sum("words"), F.sum("sents"), F.sum("sylls")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        sw.cast("long").alias("words"),
        F.round(sw.cast("double") / ss, 6).alias("words_per_sent"),
        F.round(sy.cast("double") / sw, 6).alias("sylls_per_word"),
        F.round(
            F.lit(206.835)
            - 1.015 * (sw.cast("double") / ss)
            - 84.6 * (sy.cast("double") / sw),
            6,
        ).alias("flesch_pooled"),
        F.sum(F.when(F.col("flesch") >= 70.0, 1).otherwise(0))
        .cast("long")
        .alias("n_easy"),
        F.sum(F.when(F.col("flesch") < 50.0, 1).otherwise(0))
        .cast("long")
        .alias("n_hard"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (stopword-delimited phrase scoring)
# ---------------------------------------------------------------------------

_RAKE_MAXLEN = 4   # candidate phrases longer than this are noise
_RAKE_TOPK = 50
_RAKE_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

_RAKE_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    tok AS (
        SELECT doc_id, toks[i + 1] AS tok, i + 1 AS pos
        FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t)
    ),
    runs AS (
        SELECT doc_id, tok, pos,
               CASE WHEN tok IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END AS is_stop,
               sum(CASE WHEN tok IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run_id
        FROM tok
    ),
    phrases AS (
        SELECT doc_id, run_id,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               count(*) AS plen
        FROM runs WHERE is_stop = 0
        GROUP BY doc_id, run_id
        HAVING count(*) <= {_RAKE_MAXLEN}
    ),
    pc AS (SELECT phrase, plen, count(*) AS pfreq FROM phrases
           GROUP BY phrase, plen),
    wx AS (SELECT unnest(string_split(phrase, ' ')) AS word, pfreq, plen
           FROM pc),
    wscore AS (
        SELECT word,
               CAST(round(CAST(sum(pfreq * plen) AS DOUBLE) * 1000000
                          / sum(pfreq)) AS BIGINT) AS s_micro
        FROM wx GROUP BY word
    ),
    px AS (SELECT phrase, pfreq,
                  unnest(string_split(phrase, ' ')) AS word
           FROM pc),
    pscore AS (
        SELECT px.phrase, px.pfreq, sum(ws.s_micro) AS score_micro
        FROM px JOIN wscore ws ON ws.word = px.word
        GROUP BY px.phrase, px.pfreq
    )
    SELECT phrase, CAST(pfreq AS BIGINT) AS pfreq,
           CAST(score_micro AS BIGINT) AS score_micro
    FROM pscore
    ORDER BY score_micro DESC, phrase LIMIT {_RAKE_TOPK}
"""


@register("t_keyword_rake", _RAKE_SQL)
def t_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs (≤{_RAKE_MAXLEN} tokens), each word
    scored deg/freq over the phrase corpus, each phrase scored by the
    sum of its word scores — the classic unsupervised keyphrase
    extractor, here as a corpus-level top-{_RAKE_TOPK} table (the
    domain-vocabulary signal curation uses to label corpus slices).

    Scale shape: tokenise once, phrase runs come from a per-doc
    cumulative-stopword window (doc-length-bounded frames, one doc_id
    shuffle); everything downstream operates on the DEDUPLICATED
    (phrase, length, count) table, so word/phrase scoring joins are
    vocabulary-sized, not corpus-sized. Word scores are integer
    micro-scaled BEFORE the phrase sum (exact, order-free — the
    t_surprisal convention); the final ranking is orderBy().limit() →
    TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("pos", "tok"),
    )
    is_stop = F.col("tok").isin(*STOPWORDS["en"]).cast("int")
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = tok.select(
        "doc_id",
        "tok",
        "pos",
        is_stop.alias("is_stop"),
        F.sum(is_stop).over(w_run).alias("run_id"),
    )
    # Ordered phrase concat: the sort key rides the struct (s_top_paths).
    phrases = (
        runs.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "run_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAXLEN)
    )
    pc = phrases.groupBy("phrase", "plen").agg(F.count(F.lit(1)).alias("pfreq"))
    wx = pc.select(
        F.explode(F.split(F.col("phrase"), " ")).alias("word"), "pfreq", "plen"
    )
    wscore = wx.groupBy("word").agg(
        F.round(
            F.sum(F.col("pfreq") * F.col("plen")).cast("double")
            * 1000000
            / F.sum("pfreq")
        )
        .cast("long")
        .alias("s_micro")
    )
    pscore = (
        pc.select(
            "phrase",
            "pfreq",
            F.explode(F.split(F.col("phrase"), " ")).alias("word"),
        )
        .join(wscore, "word")
        .groupBy("phrase", "pfreq")
        .agg(F.sum("s_micro").alias("score_micro"))
    )
    return (
        pscore.orderBy(F.col("score_micro").desc(), "phrase")
        .limit(_RAKE_TOPK)
        .select(
            "phrase",
            F.col("pfreq").cast("long").alias("pfreq"),
            F.col("score_micro").cast("long").alias("score_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (OOV rate vs vocab size)
# ---------------------------------------------------------------------------

_VC_SIZES = [100, 500, 2000]
_VC_MAX = max(_VC_SIZES)

_VC_SQL = f"""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents
    ),
    counts AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
    vocab AS (
        SELECT t, row_number() OVER (ORDER BY n DESC, t) AS rnk
        FROM counts ORDER BY n DESC, t LIMIT {_VC_MAX}
    ),
    joined AS (
        SELECT counts.n, vocab.rnk
        FROM counts LEFT JOIN vocab ON vocab.t = counts.t
    ),
    g AS (
        SELECT sum(n) AS total,
               {", ".join(
                   f"sum(CASE WHEN rnk <= {v} THEN n ELSE 0 END) AS c{v}"
                   for v in _VC_SIZES)}
        FROM joined
    )
    SELECT CAST(vocab_size AS INT) AS vocab_size,
           CAST(CASE vocab_size {" ".join(
               f"WHEN {v} THEN c{v}" for v in _VC_SIZES)} END
               AS BIGINT) AS covered,
           CAST(total AS BIGINT) AS total,
           round(1.0 - CAST(CASE vocab_size {" ".join(
               f"WHEN {v} THEN c{v}" for v in _VC_SIZES)} END
               AS DOUBLE) / total, 6) AS oov_rate
    FROM (SELECT * FROM (VALUES {", ".join(f"({v})" for v in _VC_SIZES)})
          t(vocab_size)), g
"""


@register("t_vocab_coverage", _VC_SQL)
def t_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of token OCCURRENCES
    left out-of-vocabulary when the vocab is truncated to the top
    {_VC_SIZES} tokens by corpus frequency — the sizing curve every
    tokenizer/embedding-table design reads before fixing |V| (the
    retrieval-side sibling of t_bpe_pairs' merge ranking).

    Scale shape: tokenise once into a hash count (vocabulary-sized
    from there on); the candidate vocab is ``orderBy().limit()`` over
    the max grid size — TakeOrderedAndProject bounded by the CONSTANT
    {_VC_MAX}, never a global sort of the vocabulary — then broadcast
    back onto the counts table, and every grid point is a conditional
    occurrence-weighted aggregate over that one joined frame (the
    e_threshold_sweep one-pass pattern). Exact integer occurrence
    sums feed the rounded rates."""
    tok = _t(spark, sf_dir, "documents").select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("t")
    )
    counts = materialize(
        tok.groupBy("t").agg(F.count(F.lit(1)).alias("n")), sf_dir
    )
    w = Window.orderBy(F.col("n").desc(), F.col("t"))  # post-limit frame
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("t"))
        .limit(_VC_MAX)
        .withColumn("rnk", F.row_number().over(w))
        .select("t", "rnk")
    )
    joined = counts.join(F.broadcast(vocab), "t", "left")
    g = joined.agg(
        F.sum("n").alias("total"),
        *[
            F.sum(F.when(F.col("rnk") <= v, F.col("n")).otherwise(0)).alias(
                f"c{v}"
            )
            for v in _VC_SIZES
        ],
    )
    cells = ", ".join(f"{v}, c{v}, total" for v in _VC_SIZES)
    return (
        g.selectExpr(
            f"stack({len(_VC_SIZES)}, {cells}) AS (vocab_size, covered, total)"
        )
        .select(
            F.col("vocab_size").cast("int").alias("vocab_size"),
            F.col("covered").cast("long").alias("covered"),
            F.col("total").cast("long").alias("total"),
            F.round(
                1.0 - F.col("covered").cast("double") / F.col("total"), 6
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Hapax / lexical-richness profile per source
# ---------------------------------------------------------------------------

_HAPAX_SQL = """
    WITH tok AS (
        SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                   AS t
        FROM documents
    ),
    tc AS (SELECT source, t, count(*) AS n FROM tok GROUP BY source, t)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS hapax_ratio,
           round(CAST(count(*) AS DOUBLE) / sum(n), 6) AS type_token_ratio
    FROM tc
    GROUP BY source
"""


@register("t_hapax_profile", _HAPAX_SQL)
def t_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: token/type/hapax counts,
    hapax ratio, and type-token ratio — the vocabulary-health signal
    that separates template/boilerplate sources (low TTR, few hapax)
    from rich prose and from OCR noise (hapax-heavy garbage), feeding
    the same curation gates as t_quality_score but at the SOURCE grain
    (t_vocab_coverage sizes the global vocab; this profiles who
    contributes the tail).

    Scale shape: tokenise once, one (source, token) hash count with
    map-side partials, then one source-grain aggregate — two
    exchanges, both key-sized; all ratios divide exact integer
    sums."""
    tok = _t(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("t"),
    )
    tc = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("n"))
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return tc.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        hapax.cast("long").alias("n_hapax"),
        F.round(hapax.cast("double") / F.count(F.lit(1)), 6).alias(
            "hapax_ratio"
        ),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("n"), 6).alias(
            "type_token_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# BPE merge-rule training (the iterative tokenizer-training loop)
# ---------------------------------------------------------------------------

BPE_ROUNDS = 6


def _bpe_round_sql(k: int) -> str:
    prev = f"words_r{k - 1}"
    return f"""
    pairs_r{k} AS (
        SELECT t[i] AS l, t[i + 1] AS r, SUM(cnt) AS c
        FROM (SELECT cnt, string_split(s, '|') AS t,
                     unnest(range(1, len(string_split(s, '|')))) AS i
              FROM {prev})
        GROUP BY 1, 2
    ),
    top_r{k} AS (
        SELECT l, r, l || r AS m, c FROM pairs_r{k}
        ORDER BY c DESC, l, r LIMIT 1
    ),
    words_r{k} AS (
        SELECT cnt,
               substr(list_reduce(list_prepend('', string_split(p.s, '|')),
                   (acc, x) -> CASE
                       WHEN string_split(acc, '|')[len(string_split(acc, '|'))]
                                = tp.l
                            AND x = tp.r
                       THEN substr(acc, 1, length(acc) - length(tp.l) - 1)
                            || '|' || tp.m
                       ELSE acc || '|' || x END), 2) AS s
        FROM {prev} p, top_r{k} tp
    )"""


_BPE_SQL = (
    """
    WITH wf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
              FROM documents)
        GROUP BY w
    ),
    words_r0 AS (
        SELECT cnt, array_to_string(regexp_split_to_array(w, ''), '|') AS s
        FROM wf
    ),"""
    + ",".join(_bpe_round_sql(k) for k in range(1, BPE_ROUNDS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {k} AS round, l AS left_sym, r AS right_sym, m AS merged,"
        f" CAST(c AS BIGINT) AS pair_count FROM top_r{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
)


@register("t_bpe_train", _BPE_SQL)
def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule TRAINING — the iterative tokenizer-training loop
    itself ({BPE_ROUNDS} greedy merges), not just one pair count
    (t_bpe_pairs is the single-round profile): per round, count
    adjacent symbol pairs weighted by word frequency, adopt the most
    frequent pair (total tie-break: count desc, then lexicographic) as
    a merge rule, and re-segment. Returns the learned merge table —
    the artifact a tokenizer ships.

    Spark-first shape (and why it scales): the corpus is scanned ONCE
    into the word-frequency table (the classic BPE-trainer move — at
    100 TB the corpus scan is the entire cost), and all training
    rounds run on the VOCABULARY-sized frame, each round one explode +
    hash aggregation + a 1-row top + an in-row fold applying the merge
    greedily left-to-right. Both engines apply the merge with the
    identical string fold (overlap-safe: 'abab' under (a,b) → ab|ab),
    so the pair counts stay exact integers end-to-end — no floats
    anywhere in the loop."""
    from recommender_systems_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = wf.select(
        "cnt", F.concat_ws("|", F.split("w", "")).alias("s")
    ).transform(materialize, sf_dir)
    rows = []
    for k in range(1, BPE_ROUNDS + 1):
        t = F.split(F.col("s"), r"\|")
        idx = F.when(
            F.size(t) > 1, F.sequence(F.lit(1), F.size(t) - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = words.select(
            "cnt",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(t, i).alias("l"),
                        F.element_at(t, i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()[0]
        )
        left, right = top["l"], top["r"]
        merged = left + right
        rows.append((k, left, right, merged, int(top["c"])))
        fold = (
            "substring(aggregate(split(s, '\\\\|'), '', (acc, x) -> "
            f"CASE WHEN element_at(split(acc, '\\\\|'), -1) = '{left}' "
            f"AND x = '{right}' "
            f"THEN concat(substring(acc, 1, length(acc) - {len(left)} - 1), "
            f"'|', '{merged}') "
            "ELSE concat(acc, '|', x) END), 2)"
        )
        words = materialize(
            words.select("cnt", F.expr(fold).alias("s")), sf_dir
        )
    return spark.createDataFrame(
        rows,
        "round int, left_sym string, right_sym string, merged string,"
        " pair_count long",
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (data selection for language models)
# ---------------------------------------------------------------------------

_DSIR_B = 1024        # hashed-unigram buckets (vocabulary-free)
_DSIR_TARGET = "en"   # target distribution = English documents
_DSIR_TOPK = 100

_DSIR_SQL = f"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    b AS (
        SELECT doc_id, lang,
               CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT)
                   % {_DSIR_B} AS bkt
        FROM tok
    ),
    tgt AS (SELECT bkt, count(*) AS ct FROM b
            WHERE lang = '{_DSIR_TARGET}' GROUP BY bkt),
    raw AS (SELECT bkt, count(*) AS cr FROM b GROUP BY bkt),
    tots AS (SELECT (SELECT sum(ct) FROM tgt) AS t,
                    (SELECT sum(cr) FROM raw) AS r),
    lr AS (
        SELECT raw.bkt,
               CAST(round((ln((COALESCE(tgt.ct, 0) + 1.0)
                              / (tots.t + {_DSIR_B}))
                           - ln((raw.cr + 1.0) / (tots.r + {_DSIR_B})))
                          * 1000000) AS BIGINT) AS lr_ppm
        FROM raw LEFT JOIN tgt ON tgt.bkt = raw.bkt, tots
    ),
    per AS (
        SELECT b.doc_id, max(b.lang) AS lang,
               count(*) AS n_tok, sum(lr.lr_ppm) AS s
        FROM b JOIN lr ON lr.bkt = b.bkt
        GROUP BY b.doc_id
    ),
    top AS (
        SELECT doc_id, lang, n_tok, s,
               row_number() OVER (
                   ORDER BY CAST(s AS DOUBLE) / n_tok DESC, doc_id
               ) AS rnk
        FROM per
    )
    SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
           round(CAST(s AS DOUBLE) / n_tok / 1000000.0, 6) AS avg_logratio,
           CAST(rnk AS INT) AS rnk
    FROM top WHERE rnk <= {_DSIR_TOPK}
"""


@register("t_dsir_weights", _DSIR_SQL)
def t_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by its average hashed-unigram
    log-likelihood ratio between a TARGET distribution (here the
    '{_DSIR_TARGET}' sub-corpus) and the raw pool, and keep the
    top-{_DSIR_TOPK} — the modern replacement for hand-written quality
    heuristics when composing a pretraining mixture toward a target
    domain.

    Features are vocabulary-free hashed unigrams (md5 % {_DSIR_B}, the
    t_feature_hashing house rule, identical in both engines); both
    bucket models are Laplace-smoothed; each bucket's log-ratio is
    integer-scaled to millionths ONCE at the {_DSIR_B}-row bucket
    level (the t_surprisal convention), so every per-document score is
    an exact integer sum and the ranking key s/n_tok is a ratio of
    identical integers in both engines (with a doc_id tie-break).

    Scale shape: tokenize once; bucket stats are TWO {_DSIR_B}-row
    aggregates (map-side combined); the scoring join broadcasts the
    {_DSIR_B}-row log-ratio table onto the exploded token stream, so
    the only data-sized shuffle is the per-doc integer sum; selection
    is orderBy().limit() -> TakeOrderedAndProject. In production the
    target counts come from a separate (small, curated) corpus — the
    same broadcast shape."""
    docs = _t(spark, sf_dir, "documents")
    # Generators can't nest inside expressions: explode into its own
    # projection first (the t_feature_hashing shape), then bucket.
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    b = tok.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("bkt"),
    )
    # ONE {_DSIR_B}-row count table carries both models (round-13,
    # guide §2.4): the raw count and the target count come from the
    # same pass as conditional aggregates — the old separate tgt/raw
    # frames were each referenced twice (totals + the log-ratio join),
    # re-running the corpus tokenise+hash per reference: 5 corpus
    # passes for two B-row models. Checkpointed, the totals and the
    # log-ratio table are B-row arithmetic; the 2-pass floor (count,
    # score) remains. ct = conditional count is the same exact integer
    # as the old target-filtered count (0 where the left join was
    # null — identical after the +1 Laplace shift).
    cnt = (
        b.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(
                F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0)
            ).alias("ct"),
        )
        .transform(materialize, sf_dir)
    )
    tots = F.broadcast(
        cnt.agg(F.sum("cr").alias("r"), F.sum("ct").alias("t"))
    )
    lr = (
        cnt.crossJoin(tots)
        .select(
            "bkt",
            F.round(
                (
                    F.log((F.col("ct") + 1.0) / (F.col("t") + _DSIR_B))
                    - F.log((F.col("cr") + 1.0) / (F.col("r") + _DSIR_B))
                )
                * 1000000
            )
            .cast("long")
            .alias("lr_ppm"),
        )
    )
    per = (
        b.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("lr_ppm").alias("s"),
        )
    )
    key = F.col("s").cast("double") / F.col("n_tok")
    top = per.orderBy(key.desc(), "doc_id").limit(_DSIR_TOPK)
    w = Window.orderBy(key.desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id",
        "lang",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.round(key / 1000000.0, 6).alias("avg_logratio"),
        F.col("rnk").cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# t_heavy_hitters — distributed heavy hitters (local-candidate + verify)
# ---------------------------------------------------------------------------

_HH_SHARDS = 16   # deterministic doc shards (stand-in for input splits)
_HH_K = 100       # heavy = global frequency > N / K

_HH_SQL = f"""
    WITH tok AS (
        SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '_hh'),
                                      1, 8) AS BIGINT) % {_HH_SHARDS} AS shard,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    loc AS (SELECT shard, tok, count(*) AS f FROM tok GROUP BY 1, 2),
    st AS (SELECT shard, sum(f) AS ns FROM loc GROUP BY 1),
    cand AS (
        SELECT tok, count(*) AS n_shards_flagged
        FROM loc JOIN st USING (shard)
        WHERE f * {_HH_K} > ns
        GROUP BY tok
    ),
    gcnt AS (
        SELECT l.tok, sum(l.f) AS f
        FROM loc l JOIN cand c ON c.tok = l.tok
        GROUP BY l.tok
    ),
    tot AS (SELECT sum(f) AS n FROM loc)
    SELECT g.tok AS token,
           CAST(g.f AS BIGINT) AS freq,
           CAST(c.n_shards_flagged AS BIGINT) AS n_shards_flagged
    FROM gcnt g JOIN cand c ON c.tok = g.tok, tot
    WHERE g.f * {_HH_K} > tot.n
    ORDER BY freq DESC, token
"""


@register("t_heavy_hitters", _HH_SQL)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed heavy hitters over the token stream — every token
    with global frequency > N/{_HH_K} — via the two-pass
    local-candidate + global-verify scheme (the exact, mergeable
    formulation of Misra-Gries/SpaceSaving): shard documents
    deterministically into {_HH_SHARDS} shards (a stand-in for input
    splits), flag per-shard candidates with local frequency > N_s/K,
    then exactly count ONLY the flagged tokens and keep the global
    qualifiers. Soundness is the pigeonhole guarantee: f > N/K with
    f = Σf_s and N = ΣN_s forces f_s·K > N_s in at least one shard, so
    the candidate union is a superset of the true heavy hitters and
    the verify pass makes the output EXACT (all-integer comparisons —
    f·K > N, no division, no FP).

    Scale shape: pass 1 is a map-side-combined (shard, token) count
    whose output is vocabulary-sized, not corpus-sized; the per-shard
    threshold caps candidates at K per shard ({_HH_SHARDS}·{_HH_K}
    rows max), so pass 2's verify join broadcasts the candidate set
    against the shard-local counts already produced — the corpus is
    tokenized ONCE and never rescanned. This is the op that finds
    boilerplate/template tokens at 100 TB without a full sorted
    vocabulary."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", F.col("doc_id"), F.lit("hh"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _HH_SHARDS
        ).alias("shard"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    loc = tok.groupBy("shard", "tok").agg(F.count(F.lit(1)).alias("f"))
    loc = materialize(loc, sf_dir)  # consumed by shard totals + verify + total
    st = loc.groupBy("shard").agg(F.sum("f").alias("ns"))
    cand = (
        loc.join(F.broadcast(st), "shard")
        .filter(F.col("f") * _HH_K > F.col("ns"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_shards_flagged"))
    )
    glob = (
        loc.join(F.broadcast(cand), "tok")
        .groupBy("tok", "n_shards_flagged")
        .agg(F.sum("f").alias("f"))
    )
    tot = loc.agg(F.sum("f").alias("n"))
    return (
        glob.crossJoin(F.broadcast(tot))
        .filter(F.col("f") * _HH_K > F.col("n"))
        .select(
            F.col("tok").alias("token"),
            F.col("f").cast("long").alias("freq"),
            F.col("n_shards_flagged").cast("long").alias("n_shards_flagged"),
        )
        .orderBy(F.col("freq").desc(), "token")
    )


# ---------------------------------------------------------------------------
# t_kneser_ney — KN-smoothed bigram LM estimation
# ---------------------------------------------------------------------------

_KN_D = 0.75    # absolute discount (dyadic — exact in IEEE both engines)
_KN_TOPK = 50

_KN_SQL = f"""
    WITH big AS (
        SELECT u.w[1] AS w1, u.w[2] AS w2
        FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS l
              FROM documents) d,
             LATERAL (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:])) AS w) u
    ),
    c AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM c GROUP BY w1),
    cont AS (SELECT w2, count(*) AS n1b FROM c GROUP BY w2),
    t AS (SELECT count(*) AS ty FROM c)
    SELECT c.w1, c.w2,
           CAST(c.c12 AS BIGINT) AS c12,
           CAST(ctx.c1 AS BIGINT) AS c1,
           CAST(ctx.n1f AS BIGINT) AS n1f,
           CAST(cont.n1b AS BIGINT) AS n1b,
           round((c.c12 - {_KN_D}) / ctx.c1
                 + (({_KN_D} * ctx.n1f) / ctx.c1) * (cont.n1b / (1.0 * t.ty)),
                 6) AS p_kn
    FROM c JOIN ctx USING (w1) JOIN cont USING (w2), t
    ORDER BY c12 DESC, w1, w2
    LIMIT {_KN_TOPK}
"""


@register("t_kneser_ney", _KN_SQL)
def t_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram estimation (Kneser & Ney 1995;
    Chen & Goodman 1998) — the pre-neural gold-standard LM smoother and
    still the fastest corpus-quality/perplexity scorer at data-engine
    scale (a KN bigram table over the pool is what CCNet-style filters
    consult): p(w2|w1) = (c12 − D)/c1 + D·N1+(w1·)/c1 · p_cont(w2),
    with the continuation probability p_cont(w2) = N1+(·w2)/|types| —
    the "how many contexts precede w2" correction that plain MLE and
    add-k smoothing get wrong. Top-{_KN_TOPK} bigrams by count.

    Cross-engine floats: every input is an exact integer count,
    D={_KN_D} is dyadic (exact), and the probability is ONE identical
    parenthesised expression evaluated from identical operands —
    bit-equal doubles, rounded only for display. Observed bigrams have
    c12 ≥ 1 > D, so the max(·,0) clamp of the textbook formula is
    vacuous here.

    Scale shape: bigrams come from ONE tokenizer pass via a zip of two
    shifted array slices (no self-join on position — the naive shape
    shuffles the corpus twice); all model tables (context totals,
    fan-out/fan-in type counts) are vocabulary²-BOUNDED but observed-
    bigram-sized in practice, built by map-side-combined aggregates;
    the final assembly joins bigram-type-sized frames only, never the
    corpus."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(tokens(F.col("text")).alias("l")).filter(
        F.size("l") >= 2
    )
    n = F.size("l")
    pairs = tok.select(
        F.explode(
            F.zip_with(
                F.slice("l", 1, n - 1),
                F.slice("l", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c = materialize(c, sf_dir)  # consumed by ctx, cont, type total, and output
    ctx = c.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = c.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    ty = c.agg(F.count(F.lit(1)).alias("ty"))
    p_kn = (F.col("c12") - _KN_D) / F.col("c1") + (
        (_KN_D * F.col("n1f")) / F.col("c1")
    ) * (F.col("n1b") / (1.0 * F.col("ty")))
    return (
        c.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ty))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.col("c1").cast("long").alias("c1"),
            F.col("n1f").cast("long").alias("n1f"),
            F.col("n1b").cast("long").alias("n1b"),
            F.round(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(_KN_TOPK)
    )


# ---------------------------------------------------------------------------
# t_source_loo_influence — leave-one-source-out curation influence
# ---------------------------------------------------------------------------

_LOO_SQL = """
    WITH src AS (
        SELECT source, count(*) AS n,
               sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS s
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n) AS nt, sum(s) AS st FROM src)
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(s AS BIGINT) AS n_tokens,
           round(s / (1.0 * n), 4) AS mean_tok,
           round((st - s) / (1.0 * (nt - n)) - st / (1.0 * nt), 6)
               AS loo_delta
    FROM src, tot
    ORDER BY source
"""


@register("t_source_loo_influence", _LOO_SQL)
def t_source_loo_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence on a corpus-level statistic —
    the cheapest form of data attribution a curation pipeline runs
    before dropping or down-weighting a source: for each source,
    how the corpus mean tokens-per-document would move if the source
    were removed (loo_delta = mean_without − mean_with). Positive
    delta = the source drags the corpus metric down. The same
    group-once/LOO-by-subtraction identity extends to any additive
    metric (quality score sums, dedup rates) without re-scanning per
    source — the naive formulation is |sources| full passes.

    Exactness: token counts are integers, so every LOO mean is a ratio
    of exact integers; both engines perform the identical two
    divisions and one subtraction — rounding is display-only.

    Scale shape: ONE map-side-combined source aggregate (token
    counting rides the scan), a 1-row total broadcast, scalar math —
    corpus-linear with a sources-sized result at any scale."""
    docs = _t(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(tokens(F.col("text")))).alias("s"),
    )
    tot = src.agg(F.sum("n").alias("nt"), F.sum("s").alias("st"))
    return (
        src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            F.col("s").cast("long").alias("n_tokens"),
            F.round(F.col("s") / (1.0 * F.col("n")), 4).alias("mean_tok"),
            F.round(
                (F.col("st") - F.col("s")) / (1.0 * (F.col("nt") - F.col("n")))
                - F.col("st") / (1.0 * F.col("nt")),
                6,
            ).alias("loo_delta"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# t_ngram_novelty — memorization/novelty audit across a split
# ---------------------------------------------------------------------------

_NOV_SPLIT = 0.7  # train share of the md5 split

_NOV_SQL = f"""
    WITH d AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l,
               {{U}} AS u
        FROM documents
    ),
    big AS (
        SELECT doc_id, u < {_NOV_SPLIT} AS is_train,
               bw.w[1] || ' ' || bw.w[2] AS g
        FROM d, LATERAL (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:]))
                         AS w) bw
    ),
    tr AS (SELECT DISTINCT g FROM big WHERE is_train),
    te AS (SELECT doc_id, g FROM big WHERE NOT is_train)
    SELECT te.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           round(sum(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END)
                 / (1.0 * count(*)), 6) AS novelty
    FROM te LEFT JOIN tr ON tr.g = te.g
    GROUP BY te.doc_id
    ORDER BY te.doc_id
""".format(U=u01_sql("doc_id", "nov"))


@register("t_ngram_novelty", _NOV_SQL)
def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty audit (the memorization/generalization metric of
    McCoy et al. 2021's RAVEN and every LM-memorization study): what
    fraction of each held-out document's bigrams NEVER appear in the
    training split — low novelty flags eval contamination and
    memorization-prone drops, high novelty flags distribution shift.
    Split is the house md5-uniform on doc_id ({_NOV_SPLIT} train), so
    both engines hold out identical documents.

    Exactness: novelty is a ratio of exact integer counts per doc —
    display rounding only.

    Scale shape: ONE tokenizer pass feeds both sides of the split; the
    train bigram vocabulary is a distinct (vocabulary-sized, map-side
    combined) and the membership probe is an equi-join on the gram key
    — at 100 TB the train vocab swaps to a bloom filter
    (j_bloom_join's shape) with a quantified false-positive rate on
    the novelty estimate. No corpus rescans, no all-pairs anything."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("l"),
        u01_col(F.col("doc_id"), "nov").alias("u"),
    ).filter(F.size("l") >= 2)
    n_ = F.size("l")
    big = d.select(
        "doc_id",
        (F.col("u") < _NOV_SPLIT).alias("is_train"),
        F.explode(
            F.zip_with(
                F.slice("l", 1, n_ - 1),
                F.slice("l", 2, n_ - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    ).transform(materialize, sf_dir)  # train vocab + test probe read the same pass
    tr = big.filter(F.col("is_train")).select("g").distinct()
    te = big.filter(~F.col("is_train")).select("doc_id", "g")
    novel = F.sum(F.when(F.col("tg").isNull(), 1).otherwise(0))
    return (
        te.join(tr.select(F.col("g").alias("tg")),
                te["g"] == F.col("tg"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            novel.cast("long").alias("n_novel"),
            F.round(novel / (1.0 * F.count(F.lit(1))), 6).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t_quota_sample — balanced-cell sample materialization
# ---------------------------------------------------------------------------

_QS_BUDGET = 200  # total documents in the balanced sample

_QS_SQL = f"""
    WITH langs AS (SELECT count(DISTINCT lang) AS nl FROM documents),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || '_quota'), doc_id
               ) AS rnk,
               count(*) OVER (PARTITION BY lang) AS avail
        FROM documents
    )
    SELECT doc_id, lang, CAST(rnk AS INT) AS rnk,
           CAST(least({_QS_BUDGET} // langs.nl, avail) AS BIGINT) AS quota
    FROM ranked, langs
    WHERE rnk <= least({_QS_BUDGET} // langs.nl, avail)
    ORDER BY lang, rnk
"""


@register("t_quota_sample", _QS_SQL)
def t_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-cell sample MATERIALIZATION — where t_dataset_mixture
    computes target weights, this op actually draws the sample: an
    equal per-language quota ({_QS_BUDGET} ÷ |langs|, capped by
    availability) filled by deterministic md5 rank within each cell —
    the rebalancing step that turns a crawl-skewed corpus into the
    evaluation/annotation set a data team ships (per-source or
    per-(lang×source) quotas are the same plan with a wider partition
    key; proportional-to-target quotas just replace the constant).

    Determinism: selection is a per-cell row_number over
    (md5(doc_id), doc_id) — the seeded-shuffle convention — so both
    engines draw identical documents; quotas are exact integer
    arithmetic.

    Scale shape: one scan with a per-lang window (cell-parallel,
    never a global sort) and a 1-row language-count broadcast; output
    is budget-bounded. At 100 TB the rank-and-filter runs per cell in
    parallel and nothing data-sized crosses the exchange except the
    (cell, rank) pairs."""
    docs = _t(spark, sf_dir, "documents")
    langs = docs.agg(F.countDistinct("lang").alias("nl"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat_ws("_", F.col("doc_id"), F.lit("quota"))), "doc_id"
    )
    wc = Window.partitionBy("lang")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wc).alias("avail"),
    )
    quota = F.least(
        F.expr(f"{_QS_BUDGET} div nl"), F.col("avail")
    )
    return (
        ranked.crossJoin(F.broadcast(langs))
        .filter(F.col("rnk") <= quota)
        .select(
            "doc_id",
            "lang",
            F.col("rnk").cast("int").alias("rnk"),
            quota.cast("long").alias("quota"),
        )
        .orderBy("lang", "rnk")
    )
