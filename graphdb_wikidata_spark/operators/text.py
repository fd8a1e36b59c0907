"""Text-analysis operators for LLM training-data pipelines.

Language-ID (stopword-profile heuristic), quality scoring (length /
token ratios), token counting (whitespace + regex "BPE-ish" word
pieces), document fingerprinting (bag-of-words hash). All pure
``pyspark.sql.functions`` (higher-order array functions included) —
whole-stage-codegen'd JVM expressions, no Python in the row path, so
they scale linearly with input splits at 100 TB.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from . import ORACLES, QUERIES, register  # noqa: F401 - QUERIES/ORACLES re-exported


STOPWORDS = ("the", "a", "of", "and", "in")


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           length(text)                               AS n_chars_calc,
           len(string_split(text, ' '))               AS n_tokens,
           len(list_filter(string_split(text, ' '),
                           t -> t IN {STOPWORDS!r}))  AS n_stopwords,
           round(length(replace(text, ' ', ''))::DOUBLE
                 / len(string_split(text, ' ')), 4)   AS avg_token_len,
           round(len(list_filter(string_split(text, ' '),
                                 t -> t IN {STOPWORDS!r}))::DOUBLE
                 / len(string_split(text, ' ')), 4)   AS stopword_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: char/token counts, stopword ratio,
    average token length."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_list})))")
    n_toks = F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_toks.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(
            F.length(F.regexp_replace("text", F.lit(" "), F.lit(""))).cast("double") / n_toks, 4
        ).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_toks, 4).alias("stopword_ratio"),
    )


LANG_PROFILES = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
}


@register(
    "lang_id_heuristic",
    """
    WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and'))) AS s_en,
               len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','y')))   AS s_es,
               len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und'))) AS s_de
        FROM documents)
    SELECT doc_id, lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS pred_lang
    FROM s
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: score each candidate language by
    stopword hits, pick argmax with a fixed tie order (en > es > de)."""
    d = table(spark, sf_dir, "documents")
    scores = {}
    for code, words in LANG_PROFILES.items():
        lst = ", ".join(f"'{w}'" for w in words)
        scores[code] = F.expr(f"size(filter(split(text, ' '), t -> t IN ({lst})))")
    pred = (
        F.when((scores["en"] >= scores["es"]) & (scores["en"] >= scores["de"]), "en")
        .when(scores["es"] >= scores["de"], "es")
        .otherwise("de")
    )
    return d.select("doc_id", "lang", pred.alias("pred_lang"))


@register(
    "token_count_regex",
    r"""
    SELECT doc_id,
           len(string_split(text, ' '))                      AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+'))     AS word_tokens,
           len(regexp_extract_all(text, '[a-z]{4,}'))        AS long_tokens
    FROM documents
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    word-piece count."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), F.lit(0))).alias(
            "word_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{4,}"), F.lit(0))).alias("long_tokens"),
    )


@register(
    "tfidf_rarest_term",
    """
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    dfreq AS (
        SELECT token, count(*) AS doc_freq FROM toks GROUP BY token
    )
    SELECT doc_id, token AS rarest_token, doc_freq
    FROM (SELECT t.doc_id, t.token, d.doc_freq,
                 row_number() OVER (PARTITION BY t.doc_id
                                    ORDER BY d.doc_freq, t.token) AS rn
          FROM toks t JOIN dfreq d USING (token)) x
    WHERE rn = 1
    """,
)
def tfidf_rarest_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF machinery with integer-deterministic output: the most
    informative (lowest document-frequency) token per document.

    Pipeline: tokenize -> per-doc distinct -> corpus document-frequency
    aggregate -> join back -> per-doc argmin. The argmin is
    ``min(struct(doc_freq, token))`` — one shuffle with map-side partial
    aggregation — rather than a row_number window, which would sort
    every doc's token list. The dfreq side is left unhinted: corpus
    vocabulary grows with data size, so AQE decides broadcast vs
    shuffle at runtime.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    dfreq = toks.groupBy("token").agg(F.count("*").alias("doc_freq"))
    return (
        toks.join(dfreq, "token")
        .groupBy("doc_id")
        .agg(F.min(F.struct("doc_freq", "token")).alias("m"))
        .select(
            "doc_id",
            F.col("m.token").alias("rarest_token"),
            F.col("m.doc_freq").alias("doc_freq"),
        )
    )


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS bow_fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set (catches shuffled/reordered near-duplicates)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")).alias(
            "bow_fingerprint"
        ),
    )


@register(
    "quality_gopher_rules",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
    m AS (SELECT doc_id,
                 sum(c)::BIGINT  AS n_tokens,
                 max(c)          AS top_c,
                 count(*)        AS n_distinct
          FROM c GROUP BY doc_id)
    SELECT doc_id,
           n_tokens,
           round(top_c::DOUBLE / n_tokens, 4)            AS top_tok_frac,
           round(1 - n_distinct::DOUBLE / n_tokens, 4)   AS dup_tok_frac,
           (n_tokens BETWEEN 20 AND 80
            AND top_c::DOUBLE / n_tokens <= 0.2
            AND 1 - n_distinct::DOUBLE / n_tokens <= 0.6) AS keep
    FROM m
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality rules (Rae et al. 2021 §A1.1):
    per-document token count, most-frequent-token fraction, and
    duplicate-token fraction, folded into a boolean ``keep`` gate.

    Shape at scale: tokenize -> explode -> two groupBy stages, both
    with map-side partial aggregation keyed by doc_id (+ token in the
    first) — the same linear shuffle profile as ``tfidf_rarest_term``.
    No Python in the row path, no window over the whole corpus; a doc's
    metrics never leave its hash partition.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    m = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_c"),
        F.count("*").alias("n_distinct"),
    )
    top_frac = F.col("top_c").cast("double") / F.col("n_tokens")
    dup_frac = F.lit(1) - F.col("n_distinct").cast("double") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 4).alias("top_tok_frac"),
        F.round(dup_frac, 4).alias("dup_tok_frac"),
        (
            F.col("n_tokens").between(20, 80) & (top_frac <= 0.2) & (dup_frac <= 0.6)
        ).alias("keep"),
    )


@register(
    "text_bigram_familiarity",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE len(string_split(text, ' ')) >= 2),
    pos AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM t),
    bg AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
           FROM pos WHERE i <= len(toks) - 1),
    freq AS (SELECT bg, count(*) AS f FROM bg GROUP BY bg)
    SELECT bg.doc_id,
           count(*)                                   AS n_bigrams,
           sum(f)::BIGINT                             AS familiarity_sum,
           round(sum(f)::DOUBLE / count(*), 4)        AS avg_familiarity
    FROM bg JOIN freq USING (bg)
    GROUP BY bg.doc_id
    """,
)
def text_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-style quality proxy with integer determinism:
    how familiar a document's bigrams are to the corpus (average
    corpus-frequency of its bigrams — the poor man's KenLM score; real
    pipelines threshold the analogous log-probability). Low scores
    mark gibberish/outlier docs.

    Shape at scale: explode bigrams (linear), one partial-agg groupBy
    for the corpus frequency table, one frequency join back (AQE
    decides broadcast — vocabulary² grows slower than the corpus), one
    per-doc rollup keyed on doc_id.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    grams = F.expr(
        "transform(sequence(1, size(toks) - 1), i -> array_join(slice(toks, i, 2), ' '))"
    )
    bg = d.select("doc_id", F.explode(grams).alias("bg"))
    freq = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("f"))
    return (
        bg.join(freq, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("f").alias("familiarity_sum"),
            F.round(F.sum("f").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_familiarity"
            ),
        )
    )


def _packed_chunk_key(doc_id: F.Column, pos: F.Column) -> F.Column:
    """(doc_id, pos) packed into ONE long so the keeper aggregate is a
    HashAggregate (min over a struct falls back to SortAggregate —
    sorting every chunk occurrence). Lexicographic min is preserved
    only while pos < 2^20 (~10M words per document), so the pack
    carries a per-row ``assert_true`` guard: a document beyond the
    bound raises instead of silently bleeding into the next doc_id's
    key space and corrupting keeper selection. The guard is NULL (cost:
    one comparison) on every in-bound row."""
    guard = F.assert_true(
        pos < F.lit(1 << 20),
        F.lit(
            "text_chunk_dedup: document with >= 2^20 chunks overflows the"
            " packed keeper key; split the document or raise the pack width"
        ),
    )
    return doc_id * F.lit(1 << 20) + pos + F.coalesce(guard.cast("long"), F.lit(0))


@register(
    "text_chunk_dedup",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    c0 AS (SELECT doc_id,
                  [array_to_string(ws[(i*10+1):(i*10+10)], ' ')
                   for i in range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))]
                  AS chunks
           FROM w),
    c AS (SELECT doc_id,
                 generate_subscripts(chunks, 1) AS pos,
                 unnest(chunks) AS chunk
          FROM c0),
    r AS (SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos)
                   AS rn
          FROM c)
    SELECT doc_id,
           count(*)::BIGINT AS n_chunks,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM r GROUP BY doc_id
    """,
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-corpus chunk (pseudo-paragraph) dedup — the
    line/paragraph-level pass of web-corpus pipelines (C4 / RefinedWeb
    / "Deduplicating Training Data Makes Language Models Better"):
    split each document into 10-word chunks, keep only the FIRST
    occurrence of each chunk corpus-wide (min (doc_id, pos)), and
    report per-document retained counts.

    Shape at scale: chunks explode linearly; only (chunk-hash, doc,
    pos) triples shuffle — never document payloads. The keeper per
    chunk is one partial-agg min-struct groupBy on the 256-bit digest,
    then an (digest)-keyed join back: two shuffles total, both linear.
    Matching a chunk by sha2 digest instead of the chunk text keeps
    shuffle rows fixed-width (the reference engine has no corpus
    operators at all — this family is an extension)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    chunks = F.expr(
        "transform(sequence(0, CAST(ceil(size(ws) / 10.0) AS INT) - 1),"
        " i -> array_join(slice(ws, i * 10 + 1, 10), ' '))"
    )
    key = _packed_chunk_key(F.col("doc_id"), F.col("pos"))
    c = d.select("doc_id", F.posexplode(chunks).alias("pos0", "chunk")).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.sha2(F.col("chunk"), 256).alias("h"),
    ).select("doc_id", key.alias("k"), "h")
    keeper = c.groupBy("h").agg(F.min("k").alias("kmin"))
    kept = (
        c.join(keeper, "h")
        .select(
            "doc_id",
            (F.col("k") == F.col("kmin")).cast("long").alias("is_kept"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("is_kept").alias("n_kept"),
        )
    )
    return kept


@register(
    "text_intradoc_ngram_dedup",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g0 AS (SELECT doc_id,
                  CASE WHEN len(ws) >= 5 THEN
                    [array_to_string(ws[i:(i+4)], ' ')
                     for i in range(1, len(ws) - 3)]
                  ELSE [] END AS grams
           FROM w)
    SELECT doc_id,
           len(grams)::BIGINT AS n_grams,
           len(list_distinct(grams))::BIGINT AS n_unique,
           CASE WHEN len(grams) = 0 THEN 0.0
                ELSE floor(len(list_distinct(grams)) * 10000.0
                           / len(grams) + 0.5) / 10000.0
           END AS uniq_ratio
    FROM g0
    """,
)
def text_intradoc_ngram_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-substring profile: sliding 5-gram count
    vs distinct 5-gram count per document (the intra-doc half of exact
    substring dedup — a low unique ratio flags looped/boilerplate text
    that Gopher-style unigram fractions under-detect). Entirely
    JVM-side higher-order array functions, map-only: zero shuffles, so
    it composes into any scan for free at 100 TB. The uniq_ratio is
    floor-rounded (x*1e4+0.5) so Spark and DuckDB agree bit-exactly."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    grams = F.expr(
        "CASE WHEN size(ws) >= 5 THEN"
        " transform(sequence(1, size(ws) - 4),"
        "           i -> array_join(slice(ws, i, 5), ' '))"
        " ELSE array() END"
    )
    d = d.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_unique"),
    )
    ratio = F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
        F.floor(F.col("n_unique") * 10000.0 / F.col("n_grams") + 0.5) / 10000.0
    )
    return d.select("doc_id", "n_grams", "n_unique", ratio.alias("uniq_ratio"))


# ---------------------------------------------------------------------------
# PII / pattern scrubbing
# ---------------------------------------------------------------------------

#: (name, pattern, replacement) — Java regex and RE2 agree on this
#: subset (\b, \d, character classes, bounded repetition; no
#: backreferences or lookaround, which RE2 rejects). EMAIL/IPV4 are the
#: real PII patterns; LONGWORD stands in for a custom denylist so the
#: synthetic corpus (plain lowercase words) exercises the machinery
#: with non-zero counts — the PII patterns are additionally covered by
#: a pytest fixture containing actual emails/IPs.
REDACT_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("longword", r"\b[a-z]{8,}\b", "[W]"),
)


def redact_text(col):
    """Apply every REDACT_PATTERNS replacement in order to a string
    Column. Pure JVM regexp_replace chain — codegen'd, no Python."""
    out = col
    for _, pat, repl in REDACT_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


@register(
    "text_pii_scrub",
    f"""
    WITH counted AS (
        SELECT source,
               length(text) AS n0,
               len(regexp_extract_all(text, '{REDACT_PATTERNS[0][1]}')) AS n_email,
               len(regexp_extract_all(text, '{REDACT_PATTERNS[1][1]}')) AS n_ipv4,
               len(regexp_extract_all(text, '{REDACT_PATTERNS[2][1]}')) AS n_longword,
               length(regexp_replace(regexp_replace(regexp_replace(text,
                      '{REDACT_PATTERNS[0][1]}', '[EMAIL]', 'g'),
                      '{REDACT_PATTERNS[1][1]}', '[IP]', 'g'),
                      '{REDACT_PATTERNS[2][1]}', '[W]', 'g')) AS n1
        FROM documents
    )
    SELECT source,
           count(*)                         AS n_docs,
           sum(n_email)::BIGINT             AS emails,
           sum(n_ipv4)::BIGINT              AS ipv4s,
           sum(n_longword)::BIGINT          AS longwords,
           sum(n0 - n1)::BIGINT             AS chars_redacted
    FROM counted GROUP BY source
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / pattern scrubbing report: per source, how many matches of
    each redaction pattern and how many characters redaction removes.
    The redaction itself (``redact_text``) is the map-only kernel a
    100 TB scrub job runs before writing cleaned shards — a chained
    JVM ``regexp_replace``, fully fused into the parquet scan, no
    shuffle except the #sources-row final rollup.

    Reference scope is SPARQL over Wikidata (no document scrubbing);
    beyond-parity training-pipeline operator."""
    d = table(spark, sf_dir, "documents")
    counts = d.select(
        "source",
        F.length("text").alias("n0"),
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).alias(f"n_{name}")
            for name, pat, _ in REDACT_PATTERNS
        ],
        F.length(redact_text(F.col("text"))).alias("n1"),
    )
    return counts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_ipv4").alias("ipv4s"),
        F.sum("n_longword").alias("longwords"),
        F.sum(F.col("n0") - F.col("n1")).alias("chars_redacted"),
    )


# ---------------------------------------------------------------------------
# IR / classification (round-5 wave 2 extensions)
# ---------------------------------------------------------------------------

POSTINGS_CAP = 20  # champion-list prefix kept per term


@register(
    "text_inverted_index",
    f"""
    WITH t AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]{{3,}}')) AS term
        FROM documents)
    SELECT term, count(*) AS df,
           array_to_string(list_sort(list(doc_id))[1:{POSTINGS_CAP}], ',')
               AS postings
    FROM t GROUP BY term HAVING count(*) >= 2
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term -> document frequency + the
    first POSTINGS_CAP doc ids of the sorted posting list (a "champion
    list" — real indexes keep the full postings sharded by term and
    delta-encoded; the capped prefix keeps this oracle-checkable).
    One shuffle of distinct (term, doc_id) pairs; hapaxes are dropped
    AFTER the count (they must be counted to be known), and the
    sort+slice runs per term-group, never globally. Skewed stopword
    terms are exactly the groups AQE splits."""
    d = table(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{3,}"), F.lit(0))
            )
        ).alias("term"),
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, POSTINGS_CAP).cast(
                    "array<string>"
                ),
            ).alias("postings"),
        )
        .filter(F.col("df") >= 2)
    )


LANGID_PREFIX = 200  # chars of each doc profiled (Cavnar-Trenkle style)


@register(
    "langid_ngram_vote",
    f"""
    WITH split AS (
        SELECT doc_id, lang, substr(text, 1, {LANGID_PREFIX}) AS prefix,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 10 AS bucket
        FROM documents WHERE length(text) >= 2),
    grams AS (
        SELECT doc_id, lang, bucket,
               unnest(list_transform(range(1, length(prefix)),
                                     i -> substr(prefix, i, 2))) AS bg
        FROM split),
    train_counts AS (
        SELECT bg, lang, count(*) AS cnt FROM grams
        WHERE bucket <> 0 GROUP BY bg, lang),
    votes AS (
        SELECT bg, lang AS vote_lang FROM (
            SELECT bg, lang,
                   row_number() OVER (PARTITION BY bg
                                      ORDER BY cnt DESC, lang ASC) AS rn
            FROM train_counts) WHERE rn = 1),
    test_grams AS (
        SELECT doc_id, lang, bg, count(*) AS w FROM grams
        WHERE bucket = 0 GROUP BY doc_id, lang, bg),
    scored AS (
        SELECT g.doc_id, g.lang, v.vote_lang,
               CAST(sum(g.w) AS BIGINT) AS score
        FROM test_grams g JOIN votes v USING (bg)
        GROUP BY g.doc_id, g.lang, v.vote_lang),
    pred AS (
        SELECT doc_id, lang, vote_lang AS pred_lang FROM (
            SELECT doc_id, lang, vote_lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, vote_lang ASC) AS rn
            FROM scored) WHERE rn = 1)
    SELECT lang, pred_lang, count(*) AS n_docs
    FROM pred GROUP BY lang, pred_lang
    """,
)
def langid_ngram_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained character-bigram language classifier (Cavnar-Trenkle
    style, integer votes so both engines agree exactly): each bigram
    learns its majority language over the train split (hash buckets
    1-9), each held-out doc (bucket 0) is classified by the
    occurrence-weighted majority of its bigrams' votes; output is the
    confusion matrix. All arithmetic is integer counts with total-order
    tie-breaks (count DESC, lang ASC) — no FP anywhere. Scale: the vote
    table is bounded by charset^2 rows (broadcastable for latin,
    shuffle-join for CJK); the test-side explode is prefix-bounded at
    {LANGID_PREFIX} chars/doc, and every aggregation is partial-agg.
    Train/test reuse [[corpus_split_hash]]'s content-addressed split."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        )
        % 10
    )
    grams = d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        # project the prefix ONCE — inlining it into the transform
        # lambda re-evaluates the substring per element in codegen
        F.substring("text", 1, LANGID_PREFIX).alias("prefix"),
    ).select(
        "doc_id",
        "lang",
        "bucket",
        F.explode(
            F.expr(
                "transform(sequence(1, length(prefix) - 1),"
                " i -> substring(prefix, i, 2))"
            )
        ).alias("bg"),
    )
    # two consumers, each partial-agging the exploded stream into a
    # SMALL output (train: #bigrams x #langs; test: the 10% held-out
    # docs' distinct grams) — deliberately NOT pre-collapsed to per-doc
    # counts, which measured slower: (doc, bg) pairs are mostly unique,
    # so that "reduction" was a full corpus-sized shuffle
    train_counts = (
        grams.filter(F.col("bucket") != 0)
        .groupBy("bg", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_vote = Window.partitionBy("bg").orderBy(F.desc("cnt"), F.asc("lang"))
    votes = (
        train_counts.withColumn("rn", F.row_number().over(w_vote))
        .filter(F.col("rn") == 1)
        .select("bg", F.col("lang").alias("vote_lang"))
    )
    test_grams = (
        grams.filter(F.col("bucket") == 0)
        .groupBy("doc_id", "lang", "bg")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    scored = (
        test_grams.join(F.broadcast(votes), "bg")
        .groupBy("doc_id", "lang", "vote_lang")
        .agg(F.sum("w").alias("score"))
    )
    w_pred = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("vote_lang"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("vote_lang").alias("pred_lang"))
    )
    return pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "text_zipf_fit",
    """
    WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
        FROM documents),
    freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    ranked AS (
        SELECT log10(row_number() OVER (ORDER BY cnt DESC, term ASC)) AS lx,
               log10(cnt) AS ly
        FROM freq)
    SELECT count(*) AS n_terms,
           round(-(covar_pop(lx, ly) / var_pop(lx)), 6) AS zipf_exponent,
           round(corr(lx, ly) * corr(lx, ly), 6)        AS r2
    FROM ranked
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of log10(freq) on
    log10(rank); the exponent is the negated slope (natural text ~1.0;
    the synthetic corpus' near-uniform word pool fits ~0.1 — the
    statistic is exactly how you'd DETECT such synthetic text). The
    corpus collapses to #vocab rows in one partial-agg pass before any
    window touches it; the rank sort is vocabulary-sized, not
    corpus-sized. Counts are integers, so both engines take logs of
    identical values; moment aggregates round at 6dp."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{3,}"), F.lit(0))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = freq.select(
        F.log10(F.row_number().over(w).cast("double")).alias("lx"),
        F.log10(F.col("cnt").cast("double")).alias("ly"),
    )
    slope = F.covar_pop("lx", "ly") / F.var_pop("lx")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(-slope, 6).alias("zipf_exponent"),
        F.round(F.corr("lx", "ly") * F.corr("lx", "ly"), 6).alias("r2"),
    )


@register(
    "text_lm_crossentropy",
    """
    WITH split AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 10 AS bucket
        FROM documents WHERE len(string_split(text, ' ')) >= 2),
    grams0 AS (
        SELECT doc_id, source, bucket,
               unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pr
        FROM split),
    grams AS (
        SELECT doc_id, source, bucket, pr[1] AS w1, pr[2] AS w2 FROM grams0),
    uni AS (SELECT w1, count(*) AS c1 FROM grams WHERE bucket <> 0 GROUP BY w1),
    bi  AS (SELECT w1, w2, count(*) AS c2 FROM grams WHERE bucket <> 0
            GROUP BY w1, w2),
    v   AS (SELECT count(DISTINCT w2) AS vocab FROM grams WHERE bucket <> 0),
    scored AS (
        SELECT g.doc_id, g.source,
               -ln((coalesce(b.c2, 0) + 1.0) / (coalesce(u.c1, 0) + v.vocab))
                   AS nll
        FROM grams g
        LEFT JOIN bi b ON b.w1 = g.w1 AND b.w2 = g.w2
        LEFT JOIN uni u ON u.w1 = g.w1
        CROSS JOIN v
        WHERE g.bucket = 0),
    per_doc AS (
        SELECT doc_id, source, round(avg(nll), 6) AS ce
        FROM scored GROUP BY doc_id, source)
    SELECT source, count(*) AS n_docs, round(avg(ce), 4) AS avg_cross_entropy
    FROM per_doc GROUP BY source
    """,
)
def text_lm_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring, trained in-corpus: an add-one-smoothed
    bigram language model is fit on the hash-train split
    ([[corpus_split_hash]]'s buckets 1-9) and each held-out doc is
    scored by average negative log-likelihood (cross-entropy) — the
    classic perplexity-filter signal, here with a model small enough to
    be exact. Counts are integers so both engines compute log of
    identical rationals; per-doc averages round at 6dp before the
    per-source rollup (4dp). Scale: the model is two count relations
    (vocab and vocab² upper bounds — AQE picks broadcast vs shuffle for
    the score join); the corpus is exploded once and every aggregation
    is partial-agg. Swapping the in-corpus model for external KenLM
    scores is the same plan with the count join replaced by a UDF."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        )
        % 10
    )
    grams = (
        d.filter(F.size(toks) >= 2)
        # project the token array ONCE: inlining split(text) into each
        # element_at re-evaluates the split per access in codegen
        .select("doc_id", "source", bucket.alias("bucket"), toks.alias("toks"))
        .select(
            "doc_id",
            "source",
            "bucket",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) AS w1,"
                    " element_at(toks, i + 1) AS w2))"
                )
            ).alias("pr"),
        )
        .select("doc_id", "source", "bucket", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    )
    train = grams.filter(F.col("bucket") != 0)
    # ONE pass over the exploded train grams: the bigram counts; the
    # unigram counts and the vocabulary derive from that already-tiny
    # relation (sum of c2 per w1 == count per w1; distinct w2 of bi ==
    # distinct w2 of grams). A naive formulation aggregated the
    # exploded subtree three times — 3 corpus-sized explodes that cost
    # real minutes on the 30x twin.
    bi = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = bi.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = bi.agg(F.countDistinct("w2").alias("vocab"))
    test = grams.filter(F.col("bucket") == 0)
    nll = -F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vocab"))
    )
    scored = (
        test.join(bi, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", "source", nll.alias("nll"))
    )
    per_doc = scored.groupBy("doc_id", "source").agg(F.round(F.avg("nll"), 6).alias("ce"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("ce"), 4).alias("avg_cross_entropy"),
    )


@register(
    "text_ngram_novelty",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents WHERE len(string_split(text, ' ')) >= 3),
    pos AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
           FROM pos WHERE i <= len(toks) - 2),
    first_seen AS (SELECT sh, min(doc_id) AS owner FROM sh GROUP BY sh)
    SELECT s.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.owner = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           round(sum(CASE WHEN f.owner = s.doc_id THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS novelty
    FROM sh s JOIN first_seen f USING (sh)
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document, the fraction of its distinct
    3-token shingles that no earlier (lower doc_id = earlier-crawled)
    document contains. Duplicated or templated docs score near 0,
    genuinely fresh text near 1 — the metric a continual-pretraining
    pipeline uses to decide whether a new crawl batch still adds
    information (and the doc-level twin of the dedup candidate
    signals: near-dups are exactly the low-novelty tail).

    Scale shape: one explode to the distinct (doc, shingle) relation
    (same kernel as `dedup_minhash_lsh`), one partial-agg groupBy for
    first-seen owner per shingle (min is map-side combinable), one join
    back on the shingle key, one groupBy doc. Nothing wider than
    (shingle-hash, doc_id) shuffles; boilerplate celebrity shingles are
    AQE skew-split like every other shingle-keyed op here."""
    from .dedup import _shingled

    sh = _shingled(spark, sf_dir).select("doc_id", "sh")
    first_seen = sh.groupBy("sh").agg(F.min("doc_id").alias("owner"))
    novel = F.when(F.col("owner") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first_seen, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)).cast("double"), 6).alias(
                "novelty"
            ),
        )
    )


@register(
    "text_keywords_topk",
    """
    WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
    tfc AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df FROM tfc GROUP BY token),
    scored AS (SELECT t.doc_id, t.token, t.tf, d.df,
                      round(t.tf::DOUBLE / d.df, 6) AS score,
                      row_number() OVER (PARTITION BY t.doc_id
                                         ORDER BY t.tf::DOUBLE / d.df DESC,
                                                  t.token) AS rank
               FROM tfc t JOIN dfreq d USING (token))
    SELECT doc_id, rank, token, tf, df, score
    FROM scored WHERE rank <= 3
    """,
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf/df — the
    rational tf-idf surrogate (1/df is a monotone transform of idf, so
    the per-doc ranking matches tf-idf while staying an exact integer
    ratio — no cross-engine log() ULP drift). The keyword table is what
    a corpus browser / topic labeler reads per document.

    Shape at scale: one explode (linear), two partial-agg groupBys
    (term frequency, document frequency), one frequency join back (AQE
    broadcasts the vocabulary while it fits), and a row_number window
    partitioned BY DOC — per-partition cardinality is a document's
    vocabulary, never corpus-sized. Ties (equal score) break on the
    token string, so the same 3 keywords surface in both engines."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tfc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tfc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    score = F.col("tf").cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.asc("token"))
    return (
        tfc.join(dfreq, "token")
        .select(
            "doc_id",
            F.row_number().over(w).alias("rank"),
            "token",
            "tf",
            "df",
            F.round(score, 6).alias("score"),
        )
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Round-6 wave 5: vocabulary building / tokenizer-training primitives
# ---------------------------------------------------------------------------

VOCAB_K = 1000  # vocabulary size kept by vocab_topk_ids
BPE_TOP_PAIRS = 50  # merge candidates surfaced by bpe_pair_counts


@register(
    "text_token_entropy",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2)
    SELECT doc_id,
           sum(cnt)::BIGINT AS n_tokens,
           round(log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt), 6)
               AS token_entropy
    FROM c GROUP BY doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    repetitiveness axis of quality filtering (near-zero entropy = one
    token spammed; log2(n) = every token unique). Uses the identity
    H = log2(n) - (1/n)·Σ c·log2(c) so only integer token counts are
    aggregated and the log is applied once per DISTINCT token, not per
    occurrence.

    One explode + two stacked partial-agg groupBys, both keyed on
    doc_id (the second reuses the first's exchange). The whitespace
    tokenization matches text_stats exactly (split on single space,
    empties kept), so both engines count identical multisets."""
    docs = table(spark, sf_dir, "documents")
    c = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.round(
            F.log2(F.sum("cnt")) - F.sum(F.col("cnt") * F.log2("cnt")) / F.sum("cnt"),
            6,
        ).alias("token_entropy"),
    )


@register(
    "vocab_topk_ids",
    f"""
    WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
                  FROM documents),
    cnt AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1),
    top AS (SELECT token, freq FROM cnt
            ORDER BY freq DESC, token LIMIT {VOCAB_K})
    SELECT token, freq,
           row_number() OVER (ORDER BY freq DESC, token) AS vocab_id
    FROM top
    """,
)
def vocab_topk_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary builder: the top-VOCAB_K word tokens
    with dense integer ids — the first step of training any tokenizer
    or embedding table, and the id-assignment pass of a bag-of-words
    featurizer.

    The corpus collapses to the vocabulary relation (#distinct tokens)
    in one partial-agg groupBy; the top-K cut is orderBy().limit() =
    TakeOrderedAndProject (per-partition heaps, K-row driver merge, no
    global sort of the vocab). Only THEN does the id-assigning window
    run — over K rows, not the vocabulary. Ties are total-ordered by
    (freq DESC, token ASC) in both the cut and the ranking, so both
    engines keep and number the same K tokens."""
    docs = table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from pyspark.sql.window import Window

    top = cnt.orderBy(F.desc("freq"), F.asc("token")).limit(VOCAB_K)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return top.select("token", "freq", F.row_number().over(w).alias("vocab_id"))


@register(
    "bpe_pair_counts",
    f"""
    WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                   FROM documents),
    pairs AS (
        SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                                     i -> substring(w, i, 2))) AS pair
        FROM words WHERE length(w) >= 2)
    SELECT pair, count(*) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT {BPE_TOP_PAIRS}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol pair frequencies over word-internal characters —
    the statistic BPE tokenizer training greedily merges on (the top
    pair IS the first merge). Pair enumeration is a higher-order
    expression (transform over sequence(1, len-1)) entirely inside
    whole-stage codegen: per word, length-1 two-char slices, no Python
    and no per-character explode-then-self-join. One explode feeds one
    partial-agg groupBy over the ≤26² pair key space; the top-50 cut is
    TakeOrderedAndProject. In a real BPE trainer this operator runs per
    merge round on the current symbol sequences — same plan, symbols
    for chars."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


@register(
    "text_feature_hashing",
    """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    hashed AS (
        SELECT token,
               ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket_id
        FROM toks WHERE token <> '')
    SELECT bucket_id,
           count(*) AS n_occurrences,
           count(DISTINCT token) AS n_distinct_tokens
    FROM hashed GROUP BY bucket_id ORDER BY bucket_id
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer census: every token maps to one of 64
    feature buckets by the first 32 md5 bits mod dim — the fixed-width,
    vocabulary-free featurization used when a 100 TB corpus's vocab
    cannot be collected to build an index (the feature space is decided
    before any data is seen, so the map is embarrassingly parallel and
    identical across re-runs/engines, unlike a fitted vocabulary).
    Reported per bucket: occurrence mass and distinct-token load — the
    collision census that tells you whether dim=64 is too small for the
    corpus before you train on the collided features.

    Scale: one explode + one partial-agg groupBy on a 64-value key;
    the distinct-count is the only state and it's bounded by vocab,
    with Spark's partial-distinct doing the map-side dedup."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("token")).filter(
        F.col("token") != ""
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long") % 64
    )
    return (
        toks.select(bucket.alias("bucket_id"), "token")
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("token").alias("n_distinct_tokens"),
        )
        .orderBy("bucket_id")
    )


def _nb_oracle() -> str:
    return """
    WITH docs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 10
                   AS bucket
        FROM documents),
    train_tok AS (
        SELECT lang, unnest(toks) AS token FROM docs WHERE bucket <> 0),
    cls AS (
        SELECT lang, count(*) AS tot_c FROM train_tok GROUP BY lang),
    prior AS (
        SELECT lang, count(*) AS n_docs,
               (SELECT count(*) FROM docs WHERE bucket <> 0) AS n_total
        FROM docs WHERE bucket <> 0 GROUP BY lang),
    vocab AS (SELECT count(DISTINCT token) AS v FROM train_tok),
    tc AS (
        SELECT lang, token, count(*) AS c FROM train_tok GROUP BY lang, token),
    test_tok AS (
        SELECT doc_id, lang AS true_lang, unnest(toks) AS token
        FROM docs WHERE bucket = 0),
    scored AS (
        SELECT t.doc_id, t.true_lang, cls.lang AS cand_lang,
               sum(round(ln((coalesce(tc.c, 0) + 1.0) / (cls.tot_c + vocab.v)),
                         9)::DECIMAL(20,9)) AS loglik
        FROM test_tok t
        CROSS JOIN cls CROSS JOIN vocab
        LEFT JOIN tc ON tc.lang = cls.lang AND tc.token = t.token
        GROUP BY t.doc_id, t.true_lang, cls.lang),
    posterior AS (
        SELECT s.doc_id, s.true_lang, s.cand_lang,
               s.loglik + round(ln(CAST(p.n_docs AS DOUBLE) / p.n_total),
                                9)::DECIMAL(20,9) AS score
        FROM scored s JOIN prior p ON p.lang = s.cand_lang),
    pred AS (
        SELECT doc_id, true_lang, cand_lang AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand_lang) AS rk
        FROM posterior)
    SELECT true_lang, pred_lang, count(*) AS n_docs
    FROM pred WHERE rk = 1
    GROUP BY true_lang, pred_lang
    ORDER BY true_lang, pred_lang
    """


@register("nb_lang_classifier", _nb_oracle())
def nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and
    evaluated distributed: fit token likelihoods (Laplace-smoothed)
    and class priors on the md5-hash train split, score the held-out
    bucket-0 docs, report the confusion matrix. This is the classic
    cheap quality/metadata model a corpus pipeline trains in-situ
    (complementing the fixed-wordlist langid_ngram_vote and the
    gradient-trained lr_quality_classifier: NB needs ONE counting pass
    where LR needs a pass per gradient step).

    Scale shape: training is two partial-agg groupBys (token-class
    counts, class totals). Scoring joins test tokens against the
    (token, class) likelihood relation on the token key — vocab-sized,
    so AQE broadcasts it when it fits and shuffle-joins when it
    doesn't; the x5 class expansion multiplies test tokens by the
    class count only. No driver-side model materialization: the
    "model" stays a DataFrame end to end.

    Determinism: per-token log-likelihoods are rounded half-up to 9dp
    and summed as exact DECIMAL(20,9) per (doc, class) — association-
    order-proof; the argmax breaks exact-decimal score ties by class
    name identically in both engines."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        )
        % 10
    )
    docs = d.select("doc_id", "lang", F.split(F.col("text"), " ").alias("toks"), bucket.alias("bucket"))
    train = docs.filter(F.col("bucket") != 0)
    test = docs.filter(F.col("bucket") == 0)
    train_tok = train.select("lang", F.explode("toks").alias("token"))
    cls = train_tok.groupBy("lang").agg(F.count(F.lit(1)).alias("tot_c"))
    # both model-wide scalars stay in-plan as 1-row aggregates joined by
    # broadcast (no eager driver-side counts before the measured plan)
    n = train.agg(F.count(F.lit(1)).alias("n_total"))
    vocab = train_tok.select("token").distinct().agg(
        F.count(F.lit(1)).alias("vocab_v")
    )
    prior = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tc = train_tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    test_tok = test.select(
        "doc_id", F.col("lang").alias("true_lang"), F.explode("toks").alias("token")
    )
    cand = cls.select(F.col("lang").alias("cand_lang"), "tot_c")
    scored = (
        test_tok.join(F.broadcast(cand))
        .join(
            tc.select(F.col("lang").alias("cand_lang"), "token", "c"),
            ["cand_lang", "token"],
            "left",
        )
        .join(F.broadcast(vocab))
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(
            F.sum(
                F.round(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                        / (F.col("tot_c") + F.col("vocab_v"))
                    ),
                    9,
                ).cast("decimal(20,9)")
            ).alias("loglik")
        )
    )
    pr = prior.join(F.broadcast(n)).select(
        F.col("lang").alias("cand_lang"),
        F.round(F.log(F.col("n_docs").cast("double") / F.col("n_total")), 9)
        .cast("decimal(20,9)")
        .alias("logprior"),
    )
    posterior = scored.join(F.broadcast(pr), "cand_lang").withColumn(
        "score", F.col("loglik") + F.col("logprior")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand_lang")
    return (
        posterior.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("true_lang", F.col("cand_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


CHI2_MIN_DF = 5
CHI2_TOPK = 5


@register(
    "text_chi2_keywords",
    f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents),
    n AS (SELECT count(*) AS n_docs FROM documents),
    cls AS (SELECT lang, count(*) AS n_c FROM documents GROUP BY lang),
    tok AS (SELECT token, count(*) AS df FROM dt GROUP BY token
            HAVING count(*) >= {CHI2_MIN_DF}),
    cell AS (
        SELECT dt.lang, dt.token, count(*) AS n11
        FROM dt JOIN tok ON dt.token = tok.token
        GROUP BY dt.lang, dt.token),
    chi AS (
        SELECT c.lang, c.token,
               round(n.n_docs
                     * (CAST(c.n11 AS DOUBLE) * (n.n_docs - cls.n_c - tok.df + c.n11)
                        - CAST(tok.df - c.n11 AS DOUBLE) * (cls.n_c - c.n11)) ^ 2
                     / (CAST(cls.n_c AS DOUBLE) * (n.n_docs - cls.n_c)
                        * tok.df * (n.n_docs - tok.df)), 4) AS chi2
        FROM cell c
        JOIN cls ON cls.lang = c.lang
        JOIN tok ON tok.token = c.token
        CROSS JOIN n)
    SELECT lang, token, chi2, rk
    FROM (SELECT lang, token, chi2,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY chi2 DESC, token) AS rk
          FROM chi)
    WHERE rk <= {CHI2_TOPK}
    ORDER BY lang, rk
    """,
)
def text_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: the tokens most associated with
    each language by the 2x2 presence contingency test — the classic
    supervised vocabulary-pruning step before training a bag-of-words
    model (tf-idf ranks tokens by rarity; chi2 ranks them by how much
    they DISCRIMINATE a class, which is what a classifier needs).

    chi2 = N(n11*n00 - n10*n01)² / ((n11+n01)(n11+n10)(n10+n00)(n01+n00)),
    with all four cells derived from three integer aggregates (per-class
    doc counts, per-token doc frequency, per-(class, token) presence) —
    never a dense class x token matrix. The df >= 5 floor prunes the
    hapax tail BEFORE the per-cell join, bounding it by the heavy-vocab
    size.

    Determinism: every cell is an exact integer; the statistic is a
    fixed dag of double ops from those integers (identical in both
    engines), rounded once; rank ties break on the token string.

    Scale: one distinct-explode shuffle + three partial aggs + a
    vocab-keyed join; the rank window partitions by class (bounded
    fan-in per class = pruned vocab)."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    # array_distinct already dedupes tokens within a doc, and rows from
    # different docs differ by doc_id — no row-level distinct needed
    dt = d.select(
        "doc_id", "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    cls = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_c"))
    tok = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= CHI2_MIN_DF)
    )
    cell = dt.join(tok, "token").groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("n11")
    )
    n11 = F.col("n11").cast("double")
    n_c = F.col("n_c").cast("double")
    df_ = F.col("df").cast("double")
    N = F.col("n_docs")
    num = n11 * (N - n_c - df_ + n11) - (df_ - n11) * (n_c - n11)
    chi2 = F.round(N * num * num / (n_c * (N - n_c) * df_ * (N - df_)), 4)
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), "token")
    return (
        cell.join(F.broadcast(cls), "lang")
        .join(tok, "token")
        .join(F.broadcast(n))
        .select("lang", "token", chi2.alias("chi2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CHI2_TOPK)
        .orderBy("lang", "rk")
    )


@register(
    "text_readability",
    """
    WITH m AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
        FROM documents)
    SELECT doc_id, source, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN
               round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
           END AS flesch
    FROM m ORDER BY doc_id
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, with syllables approximated as
    vowel-cluster runs — the standard cheap readability gate in a
    corpus quality stack (Gopher-style rules catch degenerate docs;
    readability separates prose registers within the non-degenerate
    ones, e.g. for curriculum ordering or audience bucketing).

    Map-only: three JVM regexp counts per row and a fixed double
    formula from exact integers (identical across engines), no
    shuffle at all — the ideal 100 TB shape. Sentence count is floored
    at 1 so fragment docs don't divide by zero; wordless docs yield
    NULL flesch on both engines."""
    d = table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    n_words = F.size(F.regexp_extract_all(lower, F.lit("[a-z0-9]+"), F.lit(0)))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    )
    n_syl = F.size(F.regexp_extract_all(lower, F.lit("[aeiouy]+"), F.lit(0)))
    out = d.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    flesch = F.when(
        F.col("n_words") > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words")),
            4,
        ),
    )
    return out.withColumn("flesch", flesch).orderBy("doc_id")


PMI_MIN_COUNT = 5
PMI_TOPK = 20


@register(
    "text_pmi_collocations",
    f"""
    WITH split AS (
        SELECT string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
    grams0 AS (
        SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pr
        FROM split),
    grams AS (SELECT pr[1] AS w1, pr[2] AS w2 FROM grams0),
    n AS (SELECT count(*) AS n_grams FROM grams),
    uni1 AS (SELECT w1, count(*) AS c1 FROM grams GROUP BY w1),
    uni2 AS (SELECT w2, count(*) AS c2 FROM grams GROUP BY w2),
    bi AS (SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2
           HAVING count(*) >= {PMI_MIN_COUNT})
    SELECT b.w1, b.w2, b.c12 AS n_pair,
           round(ln(CAST(b.c12 AS DOUBLE) * n.n_grams
                    / (CAST(u1.c1 AS DOUBLE) * u2.c2)), 4) AS pmi
    FROM bi b
    JOIN uni1 u1 ON u1.w1 = b.w1
    JOIN uni2 u2 ON u2.w2 = b.w2
    CROSS JOIN n
    ORDER BY pmi DESC, b.w1, b.w2 LIMIT {PMI_TOPK}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: the adjacent
    token pairs that co-occur far more than their marginals predict —
    the phrase-detection pass (word2vec-style "new_york" merging, BPE
    seeding, stopword-collocation QA) a text pipeline runs before
    tokenizer training. PMI = ln(P(ab) / (P(a)·P(b))) over the bigram
    relation, with a count floor so rare coincidences don't dominate.

    Scale shape: the bigram relation comes from ONE pass that projects
    the split() array before zipping (the text_lm_crossentropy lesson —
    no per-char explode, no re-split); marginals are two partial-agg
    counts over that same relation; the count floor prunes the pair
    table BEFORE the marginal joins; top-k is TakeOrderedAndProject.

    Determinism: all counts exact; PMI is one double dag from them
    (identical both engines), rounded once; rank ties break on the
    token pair."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    split = d.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    grams = split.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("pr")
    ).select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    n = grams.agg(F.count(F.lit(1)).cast("double").alias("n_grams"))
    uni1 = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    uni2 = grams.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    bi = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    pmi = F.round(
        F.log(
            F.col("c12").cast("double")
            * F.col("n_grams")
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        4,
    )
    return (
        bi.join(uni1, "w1")
        .join(uni2, "w2")
        .join(F.broadcast(n))
        .select("w1", "w2", F.col("c12").alias("n_pair"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOPK)
    )


# NOTE (ADVICE r08): `words` is never localCheckpointed across rounds,
# so round N's argmax job re-executes the 4*(N-1) accumulated replace
# projections — quadratic total replace work, acceptable ONLY because
# the round count is this small constant. If BPE_TRAIN_ROUNDS is ever
# raised past ~10, checkpoint `words` every few rounds.
BPE_TRAIN_ROUNDS = 5


def _bpe_train_oracle(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """Unrolled BPE training: per round, an adjacent-pair count CTE, a
    1-row argmax CTE, and a recursive replace-to-fixpoint CTE (the
    per-word fixpoint keyed by the word's spaceless reconstruction —
    merging never changes it). DuckDB replace() shares Spark's greedy
    left-to-right non-overlap semantics, so the fixpoint states match
    row for row; the pair counts are integers and the argmax breaks
    ties (cnt DESC, l, r) identically on both engines."""
    parts = []
    for r in range(1, rounds + 1):
        prev = f"v{r - 1}"
        pat = (
            f"' ' || (SELECT lft FROM a{r}) || ' ' || (SELECT rgt FROM a{r}) || ' '"
        )
        rep = f"' ' || (SELECT mrg FROM a{r}) || ' '"
        parts.append(
            f"""
    p{r} AS MATERIALIZED (
        SELECT l, r2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT freq, toks[i] AS l, toks[i + 1] AS r2
            FROM (SELECT string_split(syms, ' ') AS toks, freq FROM {prev}) AS t,
                 LATERAL (SELECT unnest(range(1, len(toks))) AS i) AS pos)
        GROUP BY l, r2),
    a{r} AS MATERIALIZED (SELECT l AS lft, r2 AS rgt, l || r2 AS mrg, cnt
             FROM p{r} ORDER BY cnt DESC, l, r2 LIMIT 1),
    f{r} AS (
        SELECT syms, freq, 0 AS it FROM {prev}
        UNION ALL
        SELECT trim(replace(' ' || syms || ' ', {pat}, {rep})), freq, it + 1
        FROM f{r}
        WHERE position({pat} IN ' ' || syms || ' ') > 0),
    v{r} AS MATERIALIZED (
        SELECT syms, freq FROM (
            SELECT syms, freq,
                   row_number() OVER (PARTITION BY replace(syms, ' ', '')
                                      ORDER BY it DESC) AS rk
            FROM f{r}) AS ranked WHERE rk = 1)"""
        )
    out = "\n    UNION ALL ".join(
        f"""SELECT CAST({r} AS INT) AS round, lft AS "left", rgt AS "right",
               mrg AS merged, cnt AS pair_count FROM a{r}"""
        for r in range(1, rounds + 1)
    )
    return f"""
    WITH RECURSIVE w AS (
        SELECT word, count(*) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents) AS s
        WHERE word <> '' GROUP BY word),
    v0 AS MATERIALIZED (SELECT array_to_string(string_split(word, ''), ' ') AS syms, freq
           FROM w),{",".join(parts)}
    SELECT * FROM ({out}) AS merges ORDER BY round
    """


@register("bpe_train_merges", _bpe_train_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, distributed: the full iterative merge
    loop, not just the first-merge statistic (bpe_pair_counts). Each
    round counts adjacent symbol pairs over the corpus-weighted word
    relation, picks the most frequent pair (total-ordered tie-break),
    and applies the merge corpus-wide; the learned merge table IS the
    tokenizer.

    Oracle (registered round 7): the merge application is a plain
    space-delimited string replace, chosen precisely because DuckDB's
    replace() has the identical greedy left-to-right non-overlap
    semantics — see _bpe_train_oracle for the unrolled rounds (pair
    count -> argmax -> recursive replace-to-fixpoint per round).
    Pytest gate: tests/test_bpe_trainer.py.

    Scale shape: the corpus collapses ONCE to the (word, freq) vocab
    relation — all training passes run over vocab rows, never raw
    docs (the standard trick: BPE statistics are word-frequency
    weighted, so distinct words suffice). Each round is one
    higher-order pair explode + partial-agg groupBy + a 1-row argmax
    collect (constant rounds x 1 row, the k-means/MMR scalar
    contract) + a map-only replace. State between rounds is the vocab
    relation, localCheckpoint'ed like every iterative kernel.

    Determinism: integer pair counts; argmax breaks ties on
    (count desc, left asc, right asc); merge application is greedy
    left-to-right non-overlapping — identical on replay and across
    engines."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        # seed symbols: the word as space-joined characters
        .select(
            F.concat_ws(" ", F.split(F.col("word"), "")).alias("syms"), "freq"
        )
        .localCheckpoint()
    )
    merges = []
    # merge semantics: replace() TO FIXPOINT on the space-delimited
    # symbol string — deterministic and engine-portable (DuckDB's
    # replace() is the same greedy left-to-right non-overlap). One
    # replace() pass can defer a site whose leading delimiter was
    # consumed by the previous match (back-to-back sites share the
    # space between them), but a deferred site is always caught by the
    # next pass and no pass ever CREATES a site (the merged symbol
    # l+r equals neither l nor r), so the fixpoint needs at most ~2-3
    # passes: for l != r the sites are token-disjoint and pass 1 merges
    # at least every other one; for l == r a run of k symbols resolves
    # in <= 3 passes. Round 8 therefore applies BPE_MERGE_PASSES
    # STACKED replace passes as pure narrow projections — no
    # per-inner-iteration localCheckpoint job, no separate fixpoint
    # action; extra passes are no-ops once converged so the end state
    # is bit-identical to the while-loop it replaces
    # (tests/test_round8_opt.py::test_bpe_stacked_passes_reach_the_fixpoint
    # pins this against a direct Python replay, including adversarial
    # l == r runs). Convergence is still VERIFIED, not assumed: the
    # next round's argmax job carries an observe() counting rows that
    # still contain the previous pattern; a non-zero count (never seen
    # at any SF; would need a >3-pass chain) discards that argmax,
    # applies further passes and re-runs — correctness never rests on
    # the pass bound. Jobs per round: exactly ONE (the argmax collect),
    # down from 2-4 (argmax + one checkpoint job per inner fixpoint
    # iteration) — guide §1.2: remove passes, then per-task work. The
    # merge application after the LAST round is dead work (only the
    # argmax outputs leave this function) and is skipped outright.
    pending: tuple[Observation, str] | None = None
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        while True:
            src = words
            if pending is not None:
                src = words.observe(
                    pending[0],
                    F.sum(
                        F.when(
                            F.concat(F.lit(" "), F.col("syms"), F.lit(" ")).contains(
                                pending[1]
                            ),
                            1,
                        ).otherwise(0)
                    ).alias("n"),
                )
            toks = F.split(F.col("syms"), " ")
            pairs = src.select(
                F.explode(
                    F.zip_with(
                        F.slice(toks, 1, F.size(toks) - 1),
                        F.slice(toks, 2, F.size(toks) - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("pr"),
                "freq",
            ).filter(F.size(toks) >= 2)
            top = (
                pairs.groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "l", "r")
                .limit(1)
                .collect()
            )
            if pending is None or not obs_unconverged(pending[0]):
                pending = None
                break
            # slow path (never observed; kept for correctness): the
            # previous merge needed more than BPE_MERGE_PASSES passes —
            # apply another block and redo this round's argmax
            words = _bpe_apply_passes(words, pending[1])
            pending = (
                Observation(f"bpe_sites_r{rnd}_retry{uuid.uuid4().hex[:8]}"),
                pending[1],
            )
        if not top:
            break
        l, r, cnt = top[0].l, top[0].r, int(top[0].cnt)
        merges.append((rnd, l, r, l + r, cnt))
        if rnd < BPE_TRAIN_ROUNDS:
            pat = f" {l} {r} "
            words = _bpe_apply_passes(words, pat)
            pending = (Observation(f"bpe_sites_r{rnd}"), pat)
    return spark.createDataFrame(
        merges, "round int, left string, right string, merged string, pair_count bigint"
    )


# stacked replace passes per merge application; fixpoint is reached in
# <= ~3 (see bpe_train_merges) and verified by the riding observe()
BPE_MERGE_PASSES = 4


def obs_unconverged(obs: Observation) -> bool:
    return bool(obs.get["n"])


def _bpe_apply_passes(words: DataFrame, pat: str) -> DataFrame:
    """Apply BPE_MERGE_PASSES greedy replace passes of ``pat`` ->
    merged as stacked narrow projections (no action, no checkpoint);
    a pass at fixpoint is a no-op, so stacking is exact."""
    rep = " " + pat.replace(" ", "") + " "
    out = words
    for _ in range(BPE_MERGE_PASSES):
        merged_syms = F.trim(
            F.replace(
                F.concat(F.lit(" "), F.col("syms"), F.lit(" ")),
                F.lit(pat),
                F.lit(rep),
            )
        )
        out = out.select(merged_syms.alias("syms"), "freq")
    return out


UNI_ROUNDS = 2
UNI_MAX_PIECE = 4
UNI_MIN_FREQ = 5
UNI_VOCAB_CAP = 2000




# --- unigram-LM oracle -----------------------------------------------------
# The Viterbi DP as a recursive CTE: one recursion step per word
# position, each row carrying the last UNI_MAX_PIECE dp slots as
# (score, n_pieces, chr(1)-joined seq) structs so the L=1..4
# back-references live in the working row; _uni_best2 is the
# (score desc, fewer pieces, lex-smaller seq) candidate fold. Word
# relations here are vocab-sized (the oracle runs at test SFs only).

_UNI_STRUCT_T = "STRUCT(s DOUBLE, np INTEGER, sq VARCHAR)"


def _uni_best2(a: str, b: str) -> str:
    return f"""CASE WHEN {a} IS NULL THEN {b} WHEN {b} IS NULL THEN {a}
         WHEN struct_extract({b}, 's') > struct_extract({a}, 's')
           OR (struct_extract({b}, 's') = struct_extract({a}, 's')
               AND (struct_extract({b}, 'np') < struct_extract({a}, 'np')
                    OR (struct_extract({b}, 'np') = struct_extract({a}, 'np')
                        AND struct_extract({b}, 'sq') < struct_extract({a}, 'sq'))))
         THEN {b} ELSE {a} END"""


def _uni_cand(L: int, sc: str, fl: str) -> str:
    prev = {1: "d3", 2: "d2", 3: "d1", 4: "d0"}[L]
    piece = f"substr(word, i + 2 - {L}, {L})"
    look = f"(SELECT sc FROM {sc} t WHERE t.piece = {piece})"
    score = f"coalesce({look}, (SELECT f FROM {fl}))" if L == 1 else look
    guard = f"{prev} IS NOT NULL" if L == 1 else f"{prev} IS NOT NULL AND {look} IS NOT NULL"
    return f"""CASE WHEN {guard} THEN struct_pack(
            s := struct_extract({prev}, 's') + {score},
            np := struct_extract({prev}, 'np') + 1,
            sq := CASE WHEN struct_extract({prev}, 'sq') = '' THEN {piece}
                       ELSE struct_extract({prev}, 'sq') || chr(1) || {piece} END)
        END"""


def _uni_viterbi(tag: str, sc: str, fl: str) -> str:
    cands = ",\n               ".join(
        f"{_uni_cand(L, sc, fl)} AS c{L}" for L in range(1, UNI_MAX_PIECE + 1)
    )
    return f"""
    vit{tag} AS (
        SELECT word, freq, 0 AS i,
               CAST(NULL AS {_UNI_STRUCT_T}) AS d0,
               CAST(NULL AS {_UNI_STRUCT_T}) AS d1,
               CAST(NULL AS {_UNI_STRUCT_T}) AS d2,
               struct_pack(s := CAST(0.0 AS DOUBLE), np := 0, sq := '') AS d3
        FROM w
        UNION ALL
        SELECT word, freq, i, d0, d1, d2,
               {_uni_best2(_uni_best2("c1", "c2"), _uni_best2("c3", "c4"))} AS d3
        FROM (
            SELECT word, freq, i + 1 AS i, d1 AS d0, d2 AS d1, d3 AS d2,
               {cands}
            FROM vit{tag} WHERE i < length(word)) AS stp),
    seg{tag} AS (
        SELECT word, freq,
               unnest(string_split(struct_extract(d3, 'sq'), chr(1))) AS piece
        FROM vit{tag} WHERE i = length(word)),
    usage{tag} AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS used
        FROM seg{tag} GROUP BY piece),
    kept{tag} AS MATERIALIZED (
        SELECT coalesce(u.piece, c.piece) AS piece,
               coalesce(u.used, 0) + 1 AS c
        FROM usage{tag} u FULL JOIN chars c ON c.piece = u.piece)"""


def _unigram_oracle() -> str:
    return f"""
    WITH RECURSIVE w AS MATERIALIZED (
        SELECT word, count(*) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents) AS s
        WHERE word <> '' GROUP BY word),
    subs AS (
        SELECT substr(word, p, L) AS piece, freq
        FROM w,
             LATERAL (SELECT unnest(range(1, length(word) + 1)) AS p) AS a,
             LATERAL (SELECT unnest(range(1, {UNI_MAX_PIECE + 1})) AS L) AS b
        WHERE p + L - 1 <= length(word)),
    pieces AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS pfreq FROM subs
        GROUP BY piece
        HAVING length(piece) = 1 OR sum(freq) >= {UNI_MIN_FREQ}
        ORDER BY pfreq DESC, piece LIMIT {UNI_VOCAB_CAP}),
    chars AS MATERIALIZED (SELECT piece FROM pieces WHERE length(piece) = 1),
    sc1 AS MATERIALIZED (
        SELECT piece,
               round(ln(pfreq::DOUBLE
                        / (SELECT CAST(sum(pfreq) AS DOUBLE) FROM pieces)), 9)
                   AS sc
        FROM pieces),
    fl1 AS MATERIALIZED (SELECT min(sc) - 10.0 AS f FROM sc1),
    {_uni_viterbi('1', 'sc1', 'fl1')},
    sc2 AS MATERIALIZED (
        SELECT piece,
               round(ln(c::DOUBLE
                        / (SELECT CAST(sum(c) AS DOUBLE) FROM kept1)), 9) AS sc
        FROM kept1),
    fl2 AS MATERIALIZED (SELECT min(sc) - 10.0 AS f FROM sc2),
    {_uni_viterbi('2', 'sc2', 'fl2')},
    sc3 AS MATERIALIZED (
        SELECT piece,
               round(ln(c::DOUBLE
                        / (SELECT CAST(sum(c) AS DOUBLE) FROM kept2)), 9) AS sc
        FROM kept2)
    SELECT u.piece, u.used, round(s3.sc, 6) AS log_prob
    FROM usage2 u JOIN sc3 s3 ON s3.piece = u.piece
    ORDER BY u.used DESC, u.piece LIMIT 50
    """


@register("unigram_lm_tokenizer", _unigram_oracle())
def unigram_lm_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (the SentencePiece model family):
    seed a candidate piece vocabulary from frequent substrings, then
    hard-EM rounds — Viterbi-segment every word under the current
    piece log-probabilities (E), re-estimate the probabilities from
    segmentation usage (M). Where BPE greedily GROWS merges, the
    unigram model starts over-complete and lets EM concentrate mass on
    the useful pieces; it is the second of the two tokenizer families
    a corpus pipeline trains in-situ.

    Oracle (registered round 7, hashing piece/used/log_prob — the
    VERDICT r06 bar): the Viterbi DP is a recursive CTE over the word
    positions, each row carrying the last UNI_MAX_PIECE dp slots as
    structs (score, piece-count, chr(1)-joined segmentation) so the
    L=1..4 back-references stay in the working row; the best-candidate
    fold replicates the (score desc, fewer pieces, lex-smaller seq)
    tie-break as a nested struct CASE. Both hard-EM rounds, the usage
    re-estimates, and the +1-smoothing re-score are plain SQL around
    the two Viterbi CTEs — see _unigram_oracle. Pytest gate:
    tests/test_unigram_tokenizer.py (segmentations concatenate
    exactly, hard-EM likelihood is non-decreasing, determinism).

    Scale shape: the corpus collapses ONCE to the (word, freq) vocab
    relation; candidate pieces are a higher-order substring explode
    over it (bounded by len<=UNI_MAX_PIECE), capped to UNI_VOCAB_CAP
    by a total-ordered top-k — the piece table is therefore
    CONSTANT-bounded and broadcast to the Viterbi kernel as a plain
    dict (tokenizer vocabularies are bounded by design; this is the
    k-means-centroid broadcast contract, not a data-sized collect).
    Each EM round is one Arrow-batched mapInPandas over vocab rows +
    one partial-agg usage count.

    Determinism: piece scores are ln(freq/total) rounded to 9dp each
    round with round_like_duckdb (bit-equal to the oracle's round());
    Viterbi ties break on (fewer pieces, then the lexicographically
    smaller piece sequence); chars always stay in the vocabulary so
    every word remains segmentable."""
    from ..rounding import round_like_duckdb

    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint()
    )
    toks = F.col("word")
    # candidate pieces: all substrings length 1..UNI_MAX_PIECE
    subs = words.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length(toks)),
                    lambda i: F.transform(
                        F.sequence(
                            i,
                            F.least(
                                i + F.lit(UNI_MAX_PIECE - 1), F.length(toks)
                            ),
                        ),
                        lambda j: toks.substr(i, j - i + 1),
                    ),
                )
            )
        ).alias("piece"),
        "freq",
    )
    pieces = (
        subs.groupBy("piece")
        .agg(F.sum("freq").alias("pfreq"))
        .filter(
            (F.length("piece") == 1) | (F.col("pfreq") >= UNI_MIN_FREQ)
        )
        .orderBy(F.desc("pfreq"), "piece")
        .limit(UNI_VOCAB_CAP)
    )

    def _scores(rows):
        # round_like_duckdb, not round_half_up: these scores must equal
        # the oracle's round(ln(c/total), 9) bit for bit, and DuckDB's
        # round is the multiply-then-std::round form (see rounding.py)
        total = sum(c for _, c in rows)
        return {
            p: round_like_duckdb(__import__("math").log(c / total), 9)
            for p, c in rows
        }

    piece_rows = pieces.collect()
    score = _scores([(r.piece, int(r.pfreq)) for r in piece_rows])
    # char fallbacks must always be present for segmentability —
    # derived from the ONE collected piece table (a second
    # pieces.filter(...).collect() used to re-run the whole substring
    # explode + agg + top-k job for a subset of rows already in hand)
    chars = {r.piece for r in piece_rows if len(r.piece) == 1}

    def viterbi_factory(piece_score):
        bscore = spark.sparkContext.broadcast(piece_score)

        def fn(batches):
            import math

            import pandas as pd

            sc = bscore.value
            floor = min(sc.values()) - 10.0  # unseen-char fallback penalty
            for pdf in batches:
                out_w, out_f, out_p, out_n = [], [], [], []
                for w, fr in zip(pdf["word"], pdf["freq"]):
                    n = len(w)
                    # dp[i] = (best_score, best_npieces, best_seq) for w[:i]
                    dp = [(-math.inf, 0, [])] * (n + 1)
                    dp[0] = (0.0, 0, [])
                    for i in range(1, n + 1):
                        best = (-math.inf, 0, [])
                        for L in range(1, min(UNI_MAX_PIECE, i) + 1):
                            piece = w[i - L : i]
                            s = sc.get(piece)
                            if s is None:
                                if L > 1:
                                    continue
                                s = floor
                            prev = dp[i - L]
                            if prev[0] == -math.inf:
                                continue
                            cand = (prev[0] + s, prev[1] + 1, prev[2] + [piece])
                            if (
                                cand[0] > best[0]
                                or (
                                    cand[0] == best[0]
                                    and (
                                        cand[1] < best[1]
                                        or (cand[1] == best[1] and cand[2] < best[2])
                                    )
                                )
                            ):
                                best = cand
                        dp[i] = best
                    seq = dp[n][2]
                    for p in seq:
                        out_w.append(w)
                        out_f.append(fr)
                        out_p.append(p)
                        out_n.append(dp[n][0])
                yield pd.DataFrame(
                    {"word": out_w, "freq": out_f, "piece": out_p, "nll": out_n}
                )

        return fn

    rows: list[tuple[str, int]] = []
    for _ in range(UNI_ROUNDS):
        seg = words.mapInPandas(
            viterbi_factory(score),
            schema="word string, freq bigint, piece string, nll double",
        )
        # ONE job per EM round: the usage counts are vocab-capped
        # (<= UNI_VOCAB_CAP pieces), so collect them directly — the
        # former localCheckpoint before the collect materialized the
        # same tiny relation in a second, separate job per round
        rows = [
            (r.piece, int(r.used))
            for r in seg.groupBy("piece").agg(F.sum("freq").alias("used")).collect()
        ]
        # keep char fallbacks alive with +1 smoothing so rare chars
        # never drop out of the segmentable alphabet
        kept = {p: c for p, c in rows}
        for ch in chars:
            kept.setdefault(ch, 0)
        score = _scores([(p, c + 1) for p, c in kept.items()])
    # the final usage relation is the just-collected vocab-capped rows
    usage = spark.createDataFrame(rows, "piece string, used bigint")
    return (
        usage.join(
            spark.createDataFrame(
                # 6dp re-round driver-side with the SAME DuckDB-form
                # rounding as the 9dp scores: a 9dp value ending in
                # ...500 is an exact 6dp boundary where F.round (repr
                # HALF_UP) and DuckDB round (multiply form) disagree
                [(p, round_like_duckdb(s, 6)) for p, s in score.items()],
                "piece string, log_prob double",
            ),
            "piece",
        )
        .select("piece", "used", "log_prob")
        .orderBy(F.desc("used"), "piece")
        .limit(50)
    )


WINNOW_K = 3  # word k-gram shingle width
WINNOW_W = 4  # winnow window (guarantee t = W + K - 1 words)
# pos packed into the low 20 bits of the tie-break key; corpora with
# more shingles per doc than this need a wider pack (assert-guarded)
WINNOW_POSCAP = 1 << 20


@register(
    "text_winnowing_fingerprints",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) >= {WINNOW_K}),
    pos AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM toks),
    sh AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5(array_to_string(toks[i:i+{WINNOW_K - 1}], ' ')), 1, 8))::BIGINT AS h
        FROM pos WHERE i <= len(toks) - {WINNOW_K - 1}),
    keyed AS (
        SELECT doc_id, pos,
               h * {WINNOW_POSCAP} + ({WINNOW_POSCAP - 1} - pos) AS key
        FROM sh),
    wins AS (
        SELECT doc_id,
               min(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wkey,
               count(*) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wn
        FROM keyed),
    fp AS (
        SELECT DISTINCT doc_id, wkey FROM wins WHERE wn = {WINNOW_W})
    SELECT doc_id,
           count(*) AS n_fp,
           min(wkey // {WINNOW_POSCAP}) AS min_fp,
           CAST(sum(wkey // {WINNOW_POSCAP}) % 1000003 AS BIGINT) AS fp_checksum
    FROM fp GROUP BY doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every K-word shingle, slide
    a W-shingle window, record the window minimum with the RIGHTMOST
    tie broken deterministically, and dedup the selections. Winnowing
    guarantees any shared run of W + K - 1 words between two documents
    yields at least one shared fingerprint, at ~2/(W+1) the density of
    full shingling — the standard local-fingerprint scheme for
    plagiarism/near-dup detection over big corpora.

    The rightmost-tie argmin is packed into ONE integer key
    (h * 2^20 + (2^20 - 1 - pos)): min(key) over the window is then
    exactly (min h, max pos), so a plain windowed MIN — one
    partition-local sort per doc, no self-join — computes the
    selection on both engines bit-identically. Scale shape: shingling
    is a single posexplode projection; the window runs inside the
    per-doc partition (docs partition the shuffle); output is 4 ints
    per doc. 100 TB posture: identical — no all-pairs, no global
    sort, fingerprint postings feed the same banded bucket joins as
    MinHash (dedup.py)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= WINNOW_K)
    sh = F.expr(
        f"transform(sequence(1, size(toks) - {WINNOW_K - 1}),"
        f" i -> array_join(slice(toks, i, {WINNOW_K}), ' '))"
    )
    seq = d.select("doc_id", F.posexplode(sh).alias("pos0", "sh")).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("long").alias("h"),
    )
    key = (F.col("h") * WINNOW_POSCAP + (WINNOW_POSCAP - 1 - F.col("pos"))).alias("key")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    wins = seq.select(
        "doc_id", F.min(key).over(w).alias("wkey"), F.count(F.lit(1)).over(w).alias("wn")
    )
    fp = wins.filter(F.col("wn") == WINNOW_W).select("doc_id", "wkey").distinct()
    fph = (F.col("wkey") - F.pmod(F.col("wkey"), F.lit(WINNOW_POSCAP))) / WINNOW_POSCAP
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min(fph.cast("long")).alias("min_fp"),
        F.pmod(F.sum(fph.cast("long")), F.lit(1000003)).cast("long").alias("fp_checksum"),
    )
