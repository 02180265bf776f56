"""Text-analysis operators over the documents table (§2c charter:
token counting, quality scoring, language-ID heuristic, document
fingerprinting). All pure column expressions; regexes restricted to the
syntax subset Java regex and RE2 interpret identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from k8s_log_etl_spark.functions import xengine as X
from k8s_log_etl_spark.functions.textops import bind, canonical_hash, ngram_indices, words
from k8s_log_etl_spark.plans.registry import register
# Same hot-shingle guard as the standalone jaccard dedup: a shingle
# shared by more docs than POSTING_CAP is dropped on both sides of the
# near-dup self-join — without it one hot shingle makes the a.s=b.s
# join quadratic at scale.
from k8s_log_etl_spark.queries.dedup import POSTING_CAP, posting_pairs
from k8s_log_etl_spark.tables import ensure_min_parallelism, load_table, spill_checkpoint

# Tiny per-language function-word lists for the n-gram/stopword
# language-ID heuristic (public-knowledge common words).
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

FINGERPRINT_NGRAM = 4


def _words(col: str = "text") -> F.Column:
    return words(F.col(col))


_WORDS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"


def _word_ngrams(n: int, col: str = "text") -> F.Column:
    """Space-joined word n-gram array, bind()-wrapped so per-gram array
    accesses don't re-run the split (O(words²) per doc otherwise — the
    round-8 textops.bind finding)."""
    return bind(
        _words(col),
        lambda w: F.transform(
            ngram_indices(w, n),
            lambda i: F.concat_ws(" ", *[w[i + j] for j in range(n)]),
        ),
    )


# ---------------------------------------------------------------------------

_TOKENS_SQL = f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len({_WORDS_SQL})) AS BIGINT) AS total_tokens,
       min(len({_WORDS_SQL})) AS min_tokens,
       max(len({_WORDS_SQL})) AS max_tokens,
       round(sum(len({_WORDS_SQL})) * 1.0 / count(*), 6) AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


@register("text_token_stats", oracle=_TOKENS_SQL, tags=("text",))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts aggregated per language — one narrow
    pass + one small shuffle."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    n_tok = F.size(_words())
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.min(n_tok).alias("min_tokens"),
        F.max(n_tok).alias("max_tokens"),
        F.round(F.sum(n_tok) / F.count(F.lit(1)), 6).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------

_QUALITY_SQL = f"""
SELECT source,
       count(*) AS n_docs,
       round(avg(CASE WHEN len({_WORDS_SQL}) = 0 THEN 0.0
                      ELSE len(list_filter({_WORDS_SQL}, x -> len(x) <= 2)) * 1.0 / len({_WORDS_SQL}) END), 6) AS short_word_ratio,
       round(avg(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / greatest(n_chars, 1)), 6) AS punct_ratio,
       round(avg(CASE WHEN len({_WORDS_SQL}) = 0 THEN 0.0
                      ELSE len(list_filter({_WORDS_SQL}, x -> list_contains({list(STOPWORDS)!r}, lower(x)))) * 1.0 / len({_WORDS_SQL}) END), 6) AS stopword_ratio
FROM documents
GROUP BY source
"""


@register("text_quality_score", oracle=_QUALITY_SQL, tags=("text",), bench=True)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals per source: short-word ratio, punctuation ratio,
    stopword ratio — the standard cheap filters of a training-data
    pipeline, computed without exploding tokens (array higher-order
    functions keep it one pass per document)."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    w = _words()
    n = F.size(w)
    short_ratio = F.when(n == 0, 0.0).otherwise(
        F.size(F.filter(w, lambda x: F.length(x) <= 2)) / n
    )
    punct_ratio = (
        F.length(F.regexp_replace(F.col("text"), r"[a-zA-Z0-9\s]", ""))
        / F.greatest(F.col("n_chars"), F.lit(1))
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.when(n == 0, 0.0).otherwise(
        F.size(F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x)))) / n
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(short_ratio), 6).alias("short_word_ratio"),
        F.round(F.avg(punct_ratio), 6).alias("punct_ratio"),
        F.round(F.avg(stop_ratio), 6).alias("stopword_ratio"),
    )


# ---------------------------------------------------------------------------

_SCORE_SQL = {
    lang: f"len(list_filter({_WORDS_SQL}, x -> list_contains({list(words)!r}, lower(x))))"
    for lang, words in LANG_MARKERS.items()
}
_GREATEST_SQL = ", ".join(_SCORE_SQL[lang] for lang in LANG_MARKERS)
_PRED_CASES = " ".join(
    f"WHEN greatest({_GREATEST_SQL}) > 0 AND {_SCORE_SQL[lang]} = greatest({_GREATEST_SQL}) THEN '{lang}'"
    for lang in LANG_MARKERS
)

_LANGID_SQL = f"""
SELECT lang, predicted, count(*) AS n_docs FROM (
  SELECT lang, CASE {_PRED_CASES} ELSE 'unknown' END AS predicted
  FROM documents
) GROUP BY lang, predicted
"""


@register("text_langid_confusion", oracle=_LANGID_SQL, tags=("text",))
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic and its confusion matrix
    against the labeled lang column. Deterministic tie policy: first
    language (dict order) with the maximal marker count wins; all-zero
    scores → 'unknown'."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    w = _words()

    def score(lang: str) -> F.Column:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        return F.size(F.filter(w, lambda x: F.array_contains(markers, F.lower(x))))

    scores = {lang: score(lang) for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    # build the CASE in reverse so dict order wins ties
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return (
        d.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------

_FP_SQL = f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
grams AS (SELECT doc_id,
                 (w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS g
          FROM words, unnest(range(greatest(len(w) - {FINGERPRINT_NGRAM - 1}, 0))) AS t(i)),
fp AS (SELECT doc_id, min({X.md5_long_sql('g')}) AS fingerprint FROM grams GROUP BY doc_id)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS first_doc
FROM fp GROUP BY fingerprint HAVING count(*) > 1
"""


@register("text_fingerprint_clusters", oracle=_FP_SQL, tags=("text",))
def text_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min rolling-hash over word 4-grams (a
    1-permutation MinHash / winnowing-style sketch); clusters sharing a
    fingerprint are near-dup candidates. One explode + two small
    shuffles."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    grams = _word_ngrams(FINGERPRINT_NGRAM)
    fp = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id")
        .agg(F.min(X.md5_long(F.col("g"))).alias("fingerprint"))
    )
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------

_NGRAM_SQL = f"""
WITH words AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents),
grams AS (SELECT lang, (w[i+1] || ' ' || w[i+2]) AS bigram
          FROM words, unnest(range(greatest(len(w) - 1, 0))) AS t(i)),
counts AS (SELECT lang, bigram, count(*) AS tf FROM grams GROUP BY 1, 2)
SELECT lang, bigram, tf, rnk FROM (
  SELECT lang, bigram, tf,
         row_number() OVER (PARTITION BY lang ORDER BY tf DESC, bigram) AS rnk
  FROM counts
) WHERE rnk <= 5
"""


@register("text_top_bigrams", oracle=_NGRAM_SQL, tags=("text",))
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language: n-gram explode → tf count →
    per-group top-k (WindowGroupLimit keeps only k rows per partition
    alive through the rank)."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    bigrams = _word_ngrams(2)
    counts = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    win = Window.partitionBy("lang").orderBy(F.desc("tf"), F.asc("bigram"))
    return (
        counts.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 5)
        .select("lang", "bigram", "tf", "rnk")
    )


# ---------------------------------------------------------------------------

# BPE-ish pre-tokenizer: letter runs, digit runs, non-space punctuation
# runs — the lookahead-free common subset of Java regex and RE2, so both
# engines tokenize identically.
_BPEISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

_BPEISH_SQL = f"""
SELECT lang,
       CAST(sum(len({_WORDS_SQL})) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{_BPEISH_RE}'))) AS BIGINT) AS bpeish_tokens,
       round(sum(len(regexp_extract_all(text, '{_BPEISH_RE}'))) * 1.0
             / greatest(sum(len({_WORDS_SQL})), 1), 6) AS bpeish_per_word
FROM documents
GROUP BY lang
"""


@register("text_token_bpeish", oracle=_BPEISH_SQL, tags=("text",))
def text_token_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (charter: whitespace + a BPE-ish regex):
    whitespace words vs subword-ish runs (letters/digits/punct), per
    language — the cheap token budget estimator of a training-data
    pipeline."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    ws = F.size(_words())
    bpeish = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPEISH_RE), 0))
    return d.groupBy("lang").agg(
        F.sum(ws).alias("ws_tokens"),
        F.sum(bpeish).alias("bpeish_tokens"),
        F.round(F.sum(bpeish) / F.greatest(F.sum(ws), F.lit(1)), 6).alias("bpeish_per_word"),
    )


# ---------------------------------------------------------------------------
# capstone: composed corpus-cleaning pipeline
# ---------------------------------------------------------------------------

MIN_TOKENS = 20
NEAR_DUP_JACCARD = 0.5

_CLEAN_SQL = f"""
WITH words AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents),
quality AS (
  SELECT doc_id, lang, len(w) AS n_tokens FROM words WHERE len(w) >= {MIN_TOKENS}
),
canon AS (
  SELECT doc_id,
         md5(array_to_string(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''), ' ')) AS h
  FROM documents
),
exact_keep AS (
  SELECT min(c.doc_id) AS doc_id FROM canon c JOIN quality q ON c.doc_id = q.doc_id GROUP BY c.h
),
sh AS (SELECT DISTINCT w.doc_id, (w.w[i+1] || ' ' || w.w[i+2] || ' ' || w.w[i+3]) AS s
       FROM words w JOIN exact_keep k ON w.doc_id = k.doc_id,
            unnest(range(greatest(len(w.w) - 2, 0))) AS t(i)),
capped AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {POSTING_CAP}),
shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN capped USING (s)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
near_dupes AS (
  SELECT DISTINCT db AS doc_id
  FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= {NEAR_DUP_JACCARD}
),
survivors AS (
  SELECT q.doc_id, q.lang, q.n_tokens
  FROM quality q JOIN exact_keep k ON q.doc_id = k.doc_id
  WHERE q.doc_id NOT IN (SELECT doc_id FROM near_dupes)
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM survivors GROUP BY lang
"""


def corpus_survivors(d: DataFrame, include_text: bool = True) -> DataFrame:
    """The cleaning chain's survivor set over a documents frame
    (doc_id, lang, text, ...): quality gate → exact dedup → near-dup
    removal. Returns (doc_id, lang[, text], n_tokens) of kept docs —
    the frame `corpus_clean_pipeline` aggregates (include_text=False:
    no text rejoin, the aggregate never reads it) and the CLI curate
    mode writes out.

    ONE parquet scan: the words array is computed once and carried —
    token count, canonical hash (lowercase the tokens ≡ lowercase the
    text for whitespace splitting), and the trigram shingles all derive
    from it. The quality-gated base is materialized so the exact-dedup
    aggregate, its join-back, the shingle build, and the final
    anti-join all read the checkpoint instead of re-running
    scan → split (round 2 re-scanned documents for each consumer). On a
    cluster this is the standard persist of the pipeline's reused
    spine; it holds only quality survivors' tokens."""
    w = _words()
    base = (
        d.select("doc_id", "lang", w.alias("w"))
        .withColumn("n_tokens", F.size("w"))
        .filter(F.col("n_tokens") >= MIN_TOKENS)
        .withColumn("h", canonical_hash(F.col("w")))
        .transform(spill_checkpoint)  # word arrays: data-sized
    )
    exact_keep = (
        base.groupBy("h").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    kept = base.join(exact_keep, "doc_id")

    wk = F.col("w")
    tri = F.transform(
        ngram_indices(wk, 3),
        lambda i: F.concat_ws(" ", wk[i], wk[i + 1], wk[i + 2]),
    )
    sh = kept.select("doc_id", F.explode(F.array_distinct(tri)).alias("s"))
    # Grouped-postings candidate generation (see dedup.posting_pairs):
    # one shuffle of the posting stream — window count drops over-cap
    # shingles, collect_list reuses the partitioning, pairs expand
    # map-side from each ≤cap list. Replaces the former cap-agg +
    # rejoin + a.s=b.s self-join (three reshuffles of the stream).
    sizes, pairs = posting_pairs(sh)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c") / (F.col("sa.sz") + F.col("sb.sz") - F.col("c"))
    near_dupes = (
        pairs.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .filter(jac >= NEAR_DUP_JACCARD)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    out = kept.select("doc_id", "lang", "n_tokens").join(
        near_dupes, "doc_id", "left_anti"
    )
    if include_text:
        # Rejoin original text for survivors only (the write path needs
        # it; the aggregate path passes include_text=False and never
        # scans text at all).
        out = out.join(d.select("doc_id", "text"), "doc_id").select(
            "doc_id", "lang", "text", "n_tokens"
        )
    return out


@register("corpus_clean_pipeline", oracle=_CLEAN_SQL, tags=("text", "dedup"), bench=True)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the canonical training-data cleaning
    chain as ONE Catalyst lineage: length/quality gate → exact dedup
    (keep min doc_id per canonical hash) → near-dup removal (drop the
    larger id of any trigram-Jaccard pair ≥ 0.5 among survivors) →
    per-language document and token budget. Every stage reuses the
    operators defined above; the near-dup stage stays an inverted-index
    join with the POSTING_CAP hot-shingle guard (same bound as
    dedup_ngram_jaccard), so the whole pipeline is hash-joins and
    aggregations with a provable per-shingle pair bound — nothing
    quadratic, nothing Python."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    survivors = corpus_survivors(d, include_text=False)
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


# ---------------------------------------------------------------------------

_REPETITION_SQL = f"""
WITH words AS (SELECT doc_id, source, {_WORDS_SQL} AS w FROM documents),
grams AS (
  SELECT doc_id, source,
         list_transform(range(greatest(len(w) - 2, 0)),
                        i -> (w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
  FROM words
),
ratios AS (
  SELECT doc_id, source,
         CASE WHEN len(g) = 0 THEN 1.0
              ELSE len(list_distinct(g)) * 1.0 / len(g) END AS distinct_ratio
  FROM grams
)
SELECT source, count(*) AS n_docs,
       round(avg(distinct_ratio), 6) AS avg_distinct_ratio,
       CAST(sum(CASE WHEN distinct_ratio < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
FROM ratios GROUP BY source
"""


@register("text_repetition_scores", oracle=_REPETITION_SQL, tags=("text",))
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (the duplicate-n-gram-fraction heuristic of
    standard corpus cleaning): distinct-trigram ratio per document —
    heavily repetitive text scores low — aggregated per source with a
    count of docs under the 0.5 flag threshold. Pure array higher-order
    functions, no explode: one narrow pass + one small shuffle."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    tri = _word_ngrams(3)
    ratio = F.when(F.size(tri) == 0, F.lit(1.0)).otherwise(
        F.size(F.array_distinct(tri)) / F.size(tri)
    )
    return d.select("source", ratio.alias("distinct_ratio")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("distinct_ratio"), 6).alias("avg_distinct_ratio"),
        F.sum(F.when(F.col("distinct_ratio") < 0.5, 1).otherwise(0)).alias("n_repetitive"),
    )


# ---------------------------------------------------------------------------

# Regex subset chosen to parse identically in Java regex and RE2:
# character classes, +, {n,m} — no lookarounds, no \b.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
_PHONE_RE = "[+][0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,10}"
_IP_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

_PII_SQL = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN regexp_matches(text, '{_EMAIL_RE}') THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(sum(CASE WHEN regexp_matches(text, '{_PHONE_RE}') THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
       CAST(sum(CASE WHEN regexp_matches(text, '{_IP_RE}') THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ip,
       CAST(sum(len(regexp_extract_all(text, '{_EMAIL_RE}'))) AS BIGINT) AS total_emails
FROM documents
GROUP BY source
"""


@register("pii_scan_documents", oracle=_PII_SQL, tags=("text", "llmprep"))
def pii_scan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure profile per source — the corpus-curation counterpart
    of the log pipeline's redaction stage (O7): documents containing
    email / phone / IPv4 patterns, plus total email match count. One
    narrow regex pass (JVM-side, codegen'd) + one small shuffle; the
    regex subset is restricted to syntax Java and RE2 read identically
    so the oracle is bit-for-bit."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    has = lambda pat: F.when(F.col("text").rlike(pat), 1).otherwise(0)  # noqa: E731
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(has(_EMAIL_RE)).alias("docs_with_email"),
        F.sum(has(_PHONE_RE)).alias("docs_with_phone"),
        F.sum(has(_IP_RE)).alias("docs_with_ip"),
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0)))).alias(
            "total_emails"
        ),
    )


# Denylist term scrubbing (entity/codename removal) composed with the
# PII patterns — the synthetic corpus carries no emails/phones, so the
# denylist term keeps this check non-vacuous while the PII branches
# still verify their (zero-match) machinery.
_DENY_RE = "customer"

_REDACT_DOCS_SQL = f"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g'),
             '{_DENY_RE}', '[REDACTED]', 'g')) AS redacted_hash,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
          + len(regexp_extract_all(text, '{_PHONE_RE}'))
          + len(regexp_extract_all(text, '{_DENY_RE}')) AS BIGINT) AS n_redactions
FROM documents
WHERE regexp_matches(text, '{_EMAIL_RE}') OR regexp_matches(text, '{_PHONE_RE}')
   OR regexp_matches(text, '{_DENY_RE}')
"""


@register("redact_documents", oracle=_REDACT_DOCS_SQL, tags=("text", "llmprep"))
def redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-side redaction (the O7 semantics applied to training
    text): emails/phones → typed placeholders, denylist terms →
    [REDACTED]. Output is (doc_id, md5(redacted_text), n_redactions)
    for affected docs only — the hash proves byte-identical rewrites
    across engines without hauling document bodies through the compare.
    Narrow map-only plan; the filter prunes untouched docs before the
    hash."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ),
        _DENY_RE,
        "[REDACTED]",
    )
    n_red = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(F.col("text"), F.lit(_DENY_RE), F.lit(0)))
    )
    return (
        d.filter(
            F.col("text").rlike(_EMAIL_RE)
            | F.col("text").rlike(_PHONE_RE)
            | F.col("text").rlike(_DENY_RE)
        )
        .select("doc_id", F.md5(redacted).alias("redacted_hash"), n_red.alias("n_redactions"))
    )


# ---------------------------------------------------------------------------
# boilerplate detection (word n-grams repeated across many documents)
# ---------------------------------------------------------------------------

BOILER_NGRAM = 8    # phrase length
BOILER_MIN_DF = 3   # a phrase in >= this many docs is boilerplate
BOILER_TOP = 20

_BOILER_GRAM_SQL = " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(BOILER_NGRAM))

_BOILER_SQL = f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
phrases AS (
  SELECT DISTINCT doc_id, ({_BOILER_GRAM_SQL}) AS phrase
  FROM words, unnest(range(greatest(len(w) - {BOILER_NGRAM - 1}, 0))) AS t(i)
),
df AS (
  SELECT phrase, count(*) AS n_docs FROM phrases GROUP BY phrase
  HAVING count(*) >= {BOILER_MIN_DF}
)
SELECT phrase, n_docs FROM df
ORDER BY n_docs DESC, phrase
LIMIT {BOILER_TOP}
"""


@register("text_boilerplate_phrases", oracle=_BOILER_SQL, tags=("text",))
def text_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection — the cleaning pass that strips repeated
    headers/footers/disclaimers before near-dup scoring: word 8-gram
    phrases appearing in at least BOILER_MIN_DF distinct documents,
    top-BOILER_TOP by document frequency. Each doc votes once per
    phrase (per-row array_distinct — map-side), the document-frequency
    count is one hash-aggregate keyed on the phrase, and the global
    top-k is TakeOrderedAndProject (per-partition heaps, no global
    sort). At 100 TB this is the CCNet/C4-style boilerplate census:
    one explode + one agg; grouping on an md5 of the phrase would
    bound shuffle width further for very long phrases."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    grams = _word_ngrams(BOILER_NGRAM)
    return (
        d.select("doc_id", F.explode(F.array_distinct(grams)).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DF)
        .orderBy(F.desc("n_docs"), F.asc("phrase"))
        .limit(BOILER_TOP)
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule census
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 90
GOPHER_MIN_MEAN_LEN = 3.5
GOPHER_MAX_MEAN_LEN = 8.0
GOPHER_MAX_SHORT_FRAC = 0.25
GOPHER_MIN_STOPWORDS = 2


def _gopher_flags(w: F.Column, n: F.Column, word_chars: F.Column):
    """The four per-document Gopher rule violation flags, shared by the
    rule census and the trained classifier's labeling pass."""
    n_short = F.size(F.filter(w, lambda x: F.length(x) <= 2))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(
        F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x)))
    )
    # greatest(n, 1) guards the ANSI divide-by-zero on EMPTY documents
    # (round-7 finding: Spark's boolean OR does not short-circuit in
    # codegen, so the n == 0 term never protected the division — any
    # 0-word doc crashed the census and everything downstream of
    # _gopher_flags). Semantics unchanged: when n = 0 the n == 0 /
    # n > 0 terms decide the flags, and the guarded ratios are ignored.
    # The DuckDB oracle needs no guard (double x/0 is inf/nan there,
    # never an error).
    n1 = F.greatest(n, F.lit(1))
    mean_len = word_chars / n1
    v_words = (n < GOPHER_MIN_WORDS) | (n > GOPHER_MAX_WORDS)
    v_meanlen = (
        (n == 0)
        | (mean_len < GOPHER_MIN_MEAN_LEN)
        | (mean_len > GOPHER_MAX_MEAN_LEN)
    )
    v_short = (n > 0) & (n_short / n1 > GOPHER_MAX_SHORT_FRAC)
    v_stop = n_stop < GOPHER_MIN_STOPWORDS
    return v_words, v_meanlen, v_short, v_stop


_GOPHER_SQL = f"""
WITH per_doc AS (
  SELECT source,
         len({_WORDS_SQL}) AS n_words,
         list_aggregate(list_transform({_WORDS_SQL}, x -> len(x)), 'sum')
           AS word_chars,
         len(list_filter({_WORDS_SQL}, x -> len(x) <= 2)) AS n_short,
         len(list_filter({_WORDS_SQL},
             x -> list_contains({list(STOPWORDS)!r}, lower(x)))) AS n_stop
  FROM documents
),
flags AS (
  SELECT source,
         (n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS})
           AS v_words,
         (n_words = 0 OR word_chars * 1.0 / n_words < {GOPHER_MIN_MEAN_LEN}
          OR word_chars * 1.0 / n_words > {GOPHER_MAX_MEAN_LEN}) AS v_meanlen,
         (n_words > 0 AND n_short * 1.0 / n_words > {GOPHER_MAX_SHORT_FRAC})
           AS v_short,
         (n_stop < {GOPHER_MIN_STOPWORDS}) AS v_stop
  FROM per_doc
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN v_words   THEN 1 ELSE 0 END) AS BIGINT) AS viol_word_count,
       CAST(sum(CASE WHEN v_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS viol_mean_len,
       CAST(sum(CASE WHEN v_short   THEN 1 ELSE 0 END) AS BIGINT) AS viol_short_frac,
       CAST(sum(CASE WHEN v_stop    THEN 1 ELSE 0 END) AS BIGINT) AS viol_stopwords,
       CAST(sum(CASE WHEN NOT (v_words OR v_meanlen OR v_short OR v_stop)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       round(sum(CASE WHEN NOT (v_words OR v_meanlen OR v_short OR v_stop)
                 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS pass_rate
FROM flags
GROUP BY source
"""


@register("text_gopher_rules", oracle=_GOPHER_SQL, tags=("text", "llmprep"))
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule census (Rae et al. 2021, "Scaling
    Language Models" appendix A1.1 — public paper): per-document rule
    flags (word-count range, mean word length range, short-word
    fraction cap, minimum stop-word evidence) aggregated into per-source
    violation counts and an all-rules pass rate. This is the rule-based
    quality gate of a training-data pipeline, distinct from
    text_quality_score's per-source *averages*: rules flag documents
    individually, so the pass rate is what a downstream keep/drop filter
    would act on. All four flags are array higher-order functions over
    one words array — single narrow pass, no explode, no Python; the
    only shuffle is the tiny per-source aggregate. Ratio comparisons
    are int/int double divisions, which IEEE-round identically in both
    engines (same pattern as text_quality_score)."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")

    def vflags(w: F.Column) -> F.Column:
        n = F.size(w)
        word_chars = F.aggregate(
            F.transform(w, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        v_words, v_meanlen, v_short, v_stop = _gopher_flags(w, n, word_chars)
        return F.struct(
            v_words.alias("v_words"),
            v_meanlen.alias("v_meanlen"),
            v_short.alias("v_short"),
            v_stop.alias("v_stop"),
        )

    # bind() the split: the four flags referenced it ~6x per row
    flags = d.select("source", bind(_words(), vflags).alias("v")).select(
        "source",
        F.col("v.v_words").alias("v_words"),
        F.col("v.v_meanlen").alias("v_meanlen"),
        F.col("v.v_short").alias("v_short"),
        F.col("v.v_stop").alias("v_stop"),
    )

    def tally(col: str) -> F.Column:
        return F.sum(F.when(F.col(col), 1).otherwise(0))

    n_pass = F.sum(
        F.when(
            ~(
                F.col("v_words")
                | F.col("v_meanlen")
                | F.col("v_short")
                | F.col("v_stop")
            ),
            1,
        ).otherwise(0)
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        tally("v_words").alias("viol_word_count"),
        tally("v_meanlen").alias("viol_mean_len"),
        tally("v_short").alias("viol_short_frac"),
        tally("v_stop").alias("viol_stopwords"),
        n_pass.alias("n_pass"),
        F.round(n_pass / F.count(F.lit(1)), 6).alias("pass_rate"),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit: log-log least-squares slope of the token rank/frequency
# ---------------------------------------------------------------------------

ZIPF_RANKS = 100
ZIPF_QUANT = 1_000_000  # ln() values quantized to integer micro-nats

_ZIPF_SQL = f"""
WITH toks AS (
  SELECT lang, lower(unnest({_WORDS_SQL})) AS term FROM documents
),
freq AS (SELECT lang, term, count(*) AS c FROM toks GROUP BY lang, term),
ranked AS (
  SELECT lang, c,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, term) AS rnk
  FROM freq
),
pts AS (
  SELECT lang,
         CAST(round(ln(rnk) * {ZIPF_QUANT}) AS BIGINT) AS xq,
         CAST(round(ln(c) * {ZIPF_QUANT}) AS BIGINT) AS yq
  FROM ranked WHERE rnk <= {ZIPF_RANKS}
)
SELECT lang, count(*) AS n_points,
       round((count(*) * sum(xq * yq) - sum(xq) * sum(yq)) * 1.0
             / (count(*) * sum(xq * xq) - sum(xq) * sum(xq)), 6) AS zipf_slope
FROM pts
GROUP BY lang
"""


@register("text_zipf_slope", oracle=_ZIPF_SQL, tags=("text",))
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: least-squares slope of ln(frequency)
    vs ln(rank) over the top-100 terms — a natural-language sanity
    statistic for a corpus (English prose fits ~ -1; word salad or
    boilerplate-heavy text flattens toward 0). One token hash-aggregate,
    a per-lang top-100 rank window (WindowGroupLimit prunes map-side,
    ties broken by term), then the closed-form slope from five exact
    integer sums: both ln() values are quantized to integer micro-nats
    BEFORE aggregation (the text_perplexity_proxy pattern), so the
    sums are order-independent and engine-exact; the single final
    division is the only double."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = d.select("lang", F.explode(_words()).alias("raw")).select(
        "lang", F.lower(F.col("raw")).alias("term")
    )
    freq = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("term"))
    pts = (
        freq.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ZIPF_RANKS)
        .select(
            "lang",
            F.round(F.log(F.col("rnk").cast("double")) * ZIPF_QUANT)
            .cast("bigint")
            .alias("xq"),
            F.round(F.log(F.col("c").cast("double")) * ZIPF_QUANT)
            .cast("bigint")
            .alias("yq"),
        )
    )
    n = F.count(F.lit(1))
    sxy = F.sum(F.col("xq") * F.col("yq"))
    sx = F.sum("xq")
    sy = F.sum("yq")
    sxx = F.sum(F.col("xq") * F.col("xq"))
    return pts.groupBy("lang").agg(
        n.alias("n_points"),
        F.round((n * sxy - sx * sy) * F.lit(1.0) / (n * sxx - sx * sx), 6).alias(
            "zipf_slope"
        ),
    )


# ---------------------------------------------------------------------------
# quality-score calibration (reliability diagram of score vs gate)
# ---------------------------------------------------------------------------

CALIB_Q = 1_000_000  # per-doc score quantized to integer micro-units

_CALIB_SQL = f"""
WITH per_doc AS (
  SELECT len({_WORDS_SQL}) AS n_words,
         list_aggregate(list_transform({_WORDS_SQL}, x -> len(x)), 'sum')
           AS word_chars,
         len(list_filter({_WORDS_SQL}, x -> len(x) <= 2)) AS n_short,
         len(list_filter({_WORDS_SQL},
             x -> list_contains({list(STOPWORDS)!r}, lower(x)))) AS n_stop
  FROM documents
),
scored AS (
  SELECT CASE WHEN n_words = 0 THEN 0
              ELSE least(n_stop * 10 // n_words, 9) END AS bin,
         CASE WHEN n_words = 0 THEN 0
              ELSE n_stop * {CALIB_Q} // n_words END AS score_q,
         CASE WHEN NOT (
                (n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS})
             OR (n_words = 0
                 OR word_chars * 1.0 / n_words < {GOPHER_MIN_MEAN_LEN}
                 OR word_chars * 1.0 / n_words > {GOPHER_MAX_MEAN_LEN})
             OR (n_words > 0 AND n_short * 1.0 / n_words > {GOPHER_MAX_SHORT_FRAC})
             OR (n_stop < {GOPHER_MIN_STOPWORDS})
           ) THEN 1 ELSE 0 END AS pass_
  FROM per_doc
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pass_) AS BIGINT) AS n_pass,
       round(sum(pass_) * 1.0 / count(*), 6) AS pass_rate,
       round(sum(score_q) * 1.0 / count(*) / {CALIB_Q}, 6) AS mean_score,
       round(abs(sum(score_q) * 1.0 / count(*) / {CALIB_Q}
                 - sum(pass_) * 1.0 / count(*)), 6) AS calib_gap
FROM scored GROUP BY bin
"""


@register("quality_score_calibration", oracle=_CALIB_SQL, tags=("text", "llmprep"))
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a quality score — the calibration eval
    a score-driven keep/drop pipeline runs before trusting thresholds
    (does the score's value actually predict gate outcomes?): per-doc
    stopword ratio (a standard fluency proxy) binned into value
    deciles, each bin reporting observed Gopher-gate pass rate, mean
    score, and the calibration gap |mean score - pass rate| (the
    per-bin term of expected calibration error).

    Exactness discipline: bin = 10*n_stop div n_words and the score
    sum are INTEGER arithmetic (micro-unit quantization, the
    perplexity-proxy pattern), so bin assignment and aggregates are
    order-free and engine-exact — only the final display ratios are
    floats, computed from identical integers in both engines. One
    narrow pass over the words array (no explode, no Python) + one
    10-key hash-agg: evaluation cost is the scan, nothing else, at
    any scale."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    w = _words()
    n = F.size(w)
    word_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_short = F.size(F.filter(w, lambda x: F.length(x) <= 2))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x))))
    counted = d.select(
        n.cast("long").alias("n_words"),
        word_chars.alias("word_chars"),
        n_short.cast("long").alias("n_short"),
        n_stop.cast("long").alias("n_stop"),
    )
    scored = counted.select(
        F.expr(
            "CASE WHEN n_words = 0 THEN 0"
            " ELSE least(n_stop * 10 div n_words, 9) END"
        ).alias("bin"),
        F.expr(
            f"CASE WHEN n_words = 0 THEN 0"
            f" ELSE n_stop * {CALIB_Q} div n_words END"
        ).alias("score_q"),
        # greatest(n_words, 1) guards the ANSI divide-by-zero on empty
        # docs (the _gopher_flags round-7 finding — OR does not
        # short-circuit in codegen); the n_words = 0 / n_words > 0
        # terms still decide those rows, so semantics are unchanged.
        F.expr(
            f"CASE WHEN NOT ("
            f"(n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS})"
            f" OR (n_words = 0"
            f"     OR word_chars * 1.0 / greatest(n_words, 1) < {GOPHER_MIN_MEAN_LEN}"
            f"     OR word_chars * 1.0 / greatest(n_words, 1) > {GOPHER_MAX_MEAN_LEN})"
            f" OR (n_words > 0 AND n_short * 1.0 / greatest(n_words, 1) > {GOPHER_MAX_SHORT_FRAC})"
            f" OR (n_stop < {GOPHER_MIN_STOPWORDS})"
            f") THEN 1 ELSE 0 END"
        ).alias("pass_"),
    )
    return scored.groupBy(F.col("bin").cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pass_").alias("n_pass"),
        F.round(F.sum("pass_") / F.count(F.lit(1)), 6).alias("pass_rate"),
        F.round(F.sum("score_q") / F.count(F.lit(1)) / CALIB_Q, 6).alias(
            "mean_score"
        ),
        F.round(
            F.abs(
                F.sum("score_q") / F.count(F.lit(1)) / CALIB_Q
                - F.sum("pass_") / F.count(F.lit(1))
            ),
            6,
        ).alias("calib_gap"),
    )


# ---------------------------------------------------------------------------
# trained quality classifier (round-6 verdict #5): the LEARNED
# complement of text_gopher_rules — a CCNet/fastText-style
# hashed-feature linear classifier trained by driver-synced full-batch
# gradient steps, labels from the Gopher gate, scored on the held-out
# md5 split like text_bigram_lm_score.
# ---------------------------------------------------------------------------

QC_NFEAT = 64          # hashed word-presence feature buckets
# One-hot STRUCTURAL features appended after the hashed buckets — the
# signals CCNet-style quality filters actually use (doc length, mean
# word length, short-word fraction, stopword evidence), bucketized
# with integer arithmetic so both engines construct identical ids:
#   [64, 80)   word-count bucket      64 + min(n_words // 8, 15)
#   [80, 128)  mean-word-length*4     80 + min(4*chars // max(n,1), 47)
#   [128, 139) short-frac decile     128 + min(10*short // max(n,1), 10)
#   [139, 152) stopword count        139 + min(n_stop, 12)
QC_NTOT = 152          # total feature ids (hashed + structural)
# Round-8 re-pin (verdict #3, measured curve in PLANS.md): the round-7
# schedule (lr=4, R=16) OSCILLATED — full-batch GD with that step
# ping-pongs the bias sign round over round, so held-out accuracy was
# phase-luck (0.935 at sf0.01, but 0.714 at sf0.1 with the same
# config). lr=1/2 converges monotonically at every measured point;
# R=8 at lr=1/2 beats the old config on BOTH metrics at the bench SF
# (sf0.1 acc 0.714->0.795, auc 0.910->0.940) at HALF the driver-synced
# rounds, and stays above every pinned bar at sf0.01 (acc 0.761 > 0.674
# base, auc 0.959). The heaviest bench head halves.
QC_ROUNDS = 8          # full-batch gradient steps
QC_Q = 1_000_000       # weights / probabilities as integer micro-units
QC_LR_NUM = 1          # learning rate = NUM/DEN (integer-exact update)
QC_LR_DEN = 2
# Same 90% md5 train split as llmprep.TRAIN_PCT (kept as a local
# constant to avoid a module-import-order dependency; equality pinned
# in tests/test_quality_classifier.py).
QC_TRAIN_PCT = 90

_QC_SPLIT = f"{X.md5_long_sql('CAST(doc_id AS VARCHAR)')} % 100"
_QC_BUCKET = (
    f"CAST(concat('0x', substr(md5(lower(x)), 1, 15)) AS BIGINT) % {QC_NFEAT}"
)


def _qc_train_cte() -> str:
    """Unrolled-CTE WITH-body of the gradient recurrence through the
    trained weight table w{QC_ROUNDS} (the _bpe_cte_chain / kmeans
    discipline): w0 = 0; each round scores every TRAIN doc (zq =
    integer sum of present-bucket weights + bias, bias = feature -1
    appended to every doc), quantizes the sigmoid to integer
    micro-units, hash-aggregates the exact-integer gradient per bucket,
    and updates with DuckDB's TRUNCATING integer division (mirrored
    exactly by the Spark side's Python trunc-div — Python's // floors,
    which differs on negative gradients). Shared by the classifier's
    eval oracle and the corpus_quality_gate cascade oracle."""
    lab = f"""per_doc AS (
  SELECT doc_id, source,
         ({_QC_SPLIT}) < {QC_TRAIN_PCT} AS is_train,
         CASE WHEN NOT (
           (n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS})
           OR (n_words = 0 OR word_chars * 1.0 / n_words < {GOPHER_MIN_MEAN_LEN}
               OR word_chars * 1.0 / n_words > {GOPHER_MAX_MEAN_LEN})
           OR (n_words > 0 AND n_short * 1.0 / n_words > {GOPHER_MAX_SHORT_FRAC})
           OR (n_stop < {GOPHER_MIN_STOPWORDS})
         ) THEN 1 ELSE 0 END AS y,
         list_concat(
           list_distinct(list_transform(w, x -> {_QC_BUCKET})),
           [64 + least(n_words // 8, 15),
            80 + least((coalesce(word_chars, 0) * 4) // greatest(n_words, 1), 47),
            128 + least((n_short * 10) // greatest(n_words, 1), 10),
            139 + least(n_stop, 12)]) AS fx
  FROM (
    SELECT doc_id, source, {_WORDS_SQL} AS w,
           len({_WORDS_SQL}) AS n_words,
           list_aggregate(list_transform({_WORDS_SQL}, x -> len(x)), 'sum')
             AS word_chars,
           len(list_filter({_WORDS_SQL}, x -> len(x) <= 2)) AS n_short,
           len(list_filter({_WORDS_SQL},
               x -> list_contains({list(STOPWORDS)!r}, lower(x)))) AS n_stop
    FROM documents
  )
),
feats AS MATERIALIZED (
  SELECT doc_id, is_train, y, unnest(list_append(fx, -1)) AS j FROM per_doc
),
tr AS MATERIALIZED (SELECT * FROM feats WHERE is_train),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train FROM tr),
w0 AS (SELECT unnest(range(-1, {QC_NTOT})) AS j, CAST(0 AS BIGINT) AS wq)"""
    rounds = ""
    for r in range(QC_ROUNDS):
        rounds += f""",
z{r} AS MATERIALIZED (
  SELECT t.doc_id, any_value(t.y) AS y, CAST(sum(w.wq) AS BIGINT) AS zq
  FROM tr t JOIN w{r} w ON t.j = w.j GROUP BY t.doc_id
),
e{r} AS (
  SELECT doc_id,
         CAST(round({QC_Q} * 1.0 / (1 + exp(-(zq * 1.0) / {QC_Q}))) AS BIGINT)
           - y * {QC_Q} AS e
  FROM z{r}
),
g{r} AS (
  SELECT t.j, CAST(sum(e.e) AS BIGINT) AS g
  FROM tr t JOIN e{r} e ON t.doc_id = e.doc_id GROUP BY t.j
),
w{r + 1} AS MATERIALIZED (
  SELECT w.j,
         w.wq - (coalesce(g.g, 0) * {QC_LR_NUM}) // (greatest(n.n_train, 1) * {QC_LR_DEN})
           AS wq
  FROM w{r} w LEFT JOIN g{r} g ON w.j = g.j, n
)"""
    return lab + rounds


def _qc_sql() -> str:
    """Classifier-eval oracle: the shared training chain + held-out
    confusion/accuracy/rank-sum-AUC tail."""
    R = QC_ROUNDS
    return f"""
WITH {_qc_train_cte()},
zt AS (
  SELECT t.doc_id, any_value(t.y) AS y, CAST(sum(w.wq) AS BIGINT) AS zq
  FROM (SELECT * FROM feats WHERE NOT is_train) t
  JOIN w{R} w ON t.j = w.j GROUP BY t.doc_id
),
grouped AS (
  SELECT zq, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
  FROM zt GROUP BY zq
),
ranked AS (
  SELECT zq, cnt, pos,
         coalesce(sum(cnt) OVER (ORDER BY zq
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt
  FROM grouped
),
m AS (
  SELECT CAST(sum(pos * (2 * c_lt + cnt + 1)) AS BIGINT) AS r2,
         CAST(sum(pos) AS BIGINT) AS npos,
         CAST(sum(cnt) AS BIGINT) AS n_test,
         CAST(sum(cnt - pos) AS BIGINT) AS nneg,
         CAST(sum(CASE WHEN zq >= 0 THEN pos ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN zq >= 0 THEN cnt - pos ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN zq < 0 THEN pos ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN zq < 0 THEN cnt - pos ELSE 0 END) AS BIGINT) AS tn
  FROM ranked
)
SELECT n.n_train, m.n_test, m.npos AS n_pos_test,
       m.tp, m.fp, m.tn, m.fn,
       CASE WHEN m.n_test > 0
            THEN round((m.tp + m.tn) * 1.0 / m.n_test, 6) END AS accuracy,
       -- AUC is undefined when the held-out split is single-class
       -- (round-7 unicode-corpus sweep found the 1/0 crash)
       CASE WHEN m.npos * m.nneg > 0
            THEN round((m.r2 - m.npos * (m.npos + 1)) * 1.0
                       / (2 * m.npos * m.nneg), 6) END AS auc
FROM m, n
"""


def _qc_tdiv(a: int, b: int) -> int:
    """Truncating integer division (DuckDB's `//`); Python's // floors,
    which diverges on negative gradients."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _qc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeled + featurized corpus frame (doc_id, source, is_train,
    y, fx), checkpointed once — shared by the classifier's training and
    the corpus_quality_gate cascade. y is the Gopher-gate label; fx is
    the hashed word-presence buckets plus the one-hot structural ids
    (see QC_NTOT note)."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return spill_checkpoint(_qc_features(d))  # featurized corpus: data-sized


def _qc_features(d: DataFrame) -> DataFrame:
    """Per-row labeling + featurization of ANY documents frame (needs
    doc_id, source, text) — shared by _qc_base and the streaming
    quality-gated ingest, which featurizes micro-batches.

    The whole (y, fx) pair is built inside ONE textops.bind() over the
    word split (round-8): the previous form referenced the inline
    split from ~8 sibling expressions (flags, counts, structural ids,
    hashed buckets), re-running the regexp split 8x per row — a
    constant factor, not the lambda-indexing quadratic, but the
    featurize pass is the data-sized part of classifier training at
    the second decade."""
    is_train = (X.md5_long(F.col("doc_id").cast("string")) % 100) < QC_TRAIN_PCT

    def yfx(w: F.Column) -> F.Column:
        n = F.size(w)
        word_chars = F.aggregate(
            F.transform(w, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        v_words, v_meanlen, v_short, v_stop = _gopher_flags(w, n, word_chars)
        y = (
            F.when(~(v_words | v_meanlen | v_short | v_stop), 1)
            .otherwise(0)
            .cast("long")
        )
        n_short = F.size(F.filter(w, lambda x: F.length(x) <= 2))
        stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
        n_stop = F.size(
            F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x)))
        )
        n1 = F.greatest(n, F.lit(1))
        structural = F.array(
            (F.lit(64) + F.least(F.floor(n / 8), F.lit(15))).cast("long"),
            (
                F.lit(80)
                + F.least(F.floor(word_chars * 4 / n1), F.lit(47).cast("long"))
            ).cast("long"),
            (F.lit(128) + F.least(F.floor(n_short * 10 / n1), F.lit(10))).cast(
                "long"
            ),
            (F.lit(139) + F.least(n_stop, F.lit(12))).cast("long"),
        )
        fx = F.concat(
            F.array_distinct(
                F.transform(w, lambda x: X.md5_long(F.lower(x)) % QC_NFEAT)
            ),
            structural,
        )
        return F.struct(y.alias("y"), fx.alias("fx"))

    return d.select(
        "doc_id", "source", is_train.alias("is_train"), bind(_words(), yfx).alias("yfx")
    ).select(
        "doc_id",
        "source",
        "is_train",
        F.col("yfx.y").alias("y"),
        F.col("yfx.fx").alias("fx"),
    )


def _qc_zq(wq: list[int], bias: int) -> F.Column:
    """The integer doc score off literal weights: a map-side fold over
    the present-feature array (element_at into a literal array — no
    join, no shuffle).

    Round-13 (guide §1): the weights enter as ONE array literal with
    the bias appended at slot QC_NTOT+1 and summed via a synthetic
    feature id inside the fold, instead of a QC_NTOT-element
    CreateArray of scalar literals plus a scalar bias Add. An array
    literal codegens as a runtime reference (references[i]) while
    scalar literals inline into the generated Java source — the old
    form produced DIFFERENT source for each of the QC_ROUNDS training
    rounds (8 Janino recompiles of every stage touching zq); this form
    makes the per-round source byte-identical so the codegen cache
    hits, and shrinks the analyzed tree by ~150 nodes per use. The
    fold's integer sum is order-identical (bias added last), so scores
    are bit-identical."""
    # One F.expr call instead of F.lit(list): PySpark's classic lit()
    # expands a list into per-element lit() py4j calls (~150 JVM round
    # trips per round, measured 1.4 s over training); the SQL string
    # parses JVM-side in a single call and ConstantFolding collapses
    # it to the identical array literal.
    warr = F.expr(
        "array(" + ",".join(f"{int(v)}L" for v in [*wq, bias]) + ")"
    )
    return F.aggregate(
        F.concat(F.col("fx"), F.array(F.lit(len(wq)).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, j: acc + F.element_at(warr, (j + 1).cast("int")),
    )


def _qc_fit(base: DataFrame) -> tuple[list[int], int, int]:
    """QC_ROUNDS driver-synced full-batch gradient steps on the train
    split; returns (weights, bias, n_train) in integer micro-units —
    bit-identical to the oracle's w{QC_ROUNDS} table."""
    train = base.filter(F.col("is_train"))
    spark = train.sparkSession
    n_train = train.count()  # single pre-loop scalar (PageRank pattern)
    wq = [0] * QC_NTOT
    bias = 0
    # max(n_train, 1) guards the empty-corpus case (round-7 empty-table
    # sweep): with zero train docs every gradient is empty, weights stay
    # 0, and scoring degrades to the bias — mirrored by greatest() in
    # the oracle's update CTE.
    #
    # Round-14 (guide §7.3, the _wp_train discipline): the whole
    # per-round gradient pass — the zq weight-array fold, the quantized
    # sigmoid, the (doc, bucket) explode and the integer hash-agg — is
    # ONE parameterized spark.sql parse per round instead of ~250 py4j
    # DataFrame calls (cProfile: 5.1k py4j round trips per head call,
    # ~1.4 s of non-execution socket wait). Expressions mirror the
    # DataFrame form token for token (same doubles through the single
    # round(); integer elsewhere), so every round's weights stay
    # bit-identical to the oracle's unrolled CTE replay. The weight
    # array is a per-round SQL literal — array literals codegen as
    # runtime references, so the generated Java source stays
    # round-invariant (the r13 Janino-cache fix is preserved).
    qf = repr(float(QC_Q)) + "D"
    for _ in range(QC_ROUNDS):
        warr_sql = "array(" + ",".join(f"{int(v)}L" for v in [*wq, bias]) + ")"
        zq_sql = (
            f"aggregate(concat(fx, array(CAST({QC_NTOT} AS BIGINT))), "
            f"CAST(0 AS BIGINT), "
            f"(acc, j) -> acc + element_at({warr_sql}, CAST(j + 1 AS INT)))"
        )
        grads = spark.sql(
            f"""
SELECT j, sum(e) AS g
FROM (
  SELECT explode(concat(fx, array(CAST(-1 AS BIGINT)))) AS j,
         CAST(round({qf} / (1.0D + exp(-(CAST(({zq_sql}) AS DOUBLE)) / {qf})))
           AS BIGINT) - y * {QC_Q} AS e
  FROM {{t}}
)
GROUP BY j
""",
            t=train,
        ).collect()
        g = {int(r["j"]): int(r["g"]) for r in grads}
        den = max(n_train, 1) * QC_LR_DEN
        bias -= _qc_tdiv(g.get(-1, 0) * QC_LR_NUM, den)
        for j in range(QC_NTOT):
            wq[j] -= _qc_tdiv(g.get(j, 0) * QC_LR_NUM, den)
    return wq, bias, n_train


# bench=True: the heaviest registered query at sf0.1 (~12.6 s — 16
# sequential driver-synced training rounds) must be bench-visible per
# the r5/r6 promotion discipline (set grows 27 -> 28 heads, BASELINE.md
# round-7 notes the growth).
@register("quality_classifier_train", oracle=_qc_sql(), tags=("text", "llmprep"), bench=True)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier — the learned complement of the
    rule-based Gopher gate (the CCNet discipline, Wenzek et al. 2020:
    a cheap linear model distills an expensive labeling source and
    generalizes it): hashed word-presence features (md5 bucket mod
    QC_NFEAT, binary, plus an always-on bias feature -1), labels from
    the four Gopher rules, logistic regression trained with QC_ROUNDS
    full-batch gradient steps on the 90% md5 train split, evaluated on
    the held-out 10% — confusion counts, accuracy, and rank-sum AUC
    out.

    Determinism (the kmeans_ivf_train sync discipline): weights live
    as integer micro-units; each round's doc score zq is an exact
    integer sum of present-bucket weights, the sigmoid is the single
    transcendental and is immediately quantized to integer micro-units
    (the micro-nat discipline of text_bigram_lm_score), the gradient is
    an order-free exact-integer hash-agg, and the update divides with
    TRUNCATING semantics in both engines (DuckDB's `//` truncates;
    Python's floors — _qc_tdiv bridges). Every round therefore feeds
    bit-identical weights into the next, and the oracle's unrolled CTE
    chain replays training exactly.

    Scale shape: one labeled+featurized pass over the corpus is
    checkpointed; each round is a map-side zq fold (element_at into a
    64-literal weight array — no join, no shuffle), one exploded
    (doc, bucket) hash-agg of ≤ QC_NFEAT+1 integer gradient rows, and a
    65-scalar driver sync — the K·dim centroid pattern. Eval is one
    scan + a grouped-by-score AUC whose window runs over the bounded
    distinct-zq set (the quantile-sketch discipline)."""
    base = _qc_base(spark, sf_dir)
    wq, bias, n_train = _qc_fit(base)
    scored = base.filter(~F.col("is_train")).select("y", _qc_zq(wq, bias).alias("zq"))
    grouped = scored.groupBy("zq").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    wspec = Window.orderBy("zq").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grouped.withColumn(
        "c_lt", F.coalesce(F.sum("cnt").over(wspec), F.lit(0))
    )
    pos, cnt, c_lt = F.col("pos"), F.col("cnt"), F.col("c_lt")
    m = ranked.agg(
        F.sum(pos * (2 * c_lt + cnt + 1)).alias("r2"),
        F.sum(pos).alias("npos"),
        F.sum(cnt).alias("n_test"),
        F.sum(cnt - pos).alias("nneg"),
        F.sum(F.when(F.col("zq") >= 0, pos).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("zq") >= 0, cnt - pos).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("zq") < 0, pos).otherwise(0)).alias("fn"),
        F.sum(F.when(F.col("zq") < 0, cnt - pos).otherwise(0)).alias("tn"),
    )
    return m.select(
        F.lit(int(n_train)).cast("long").alias("n_train"),
        F.col("n_test"),
        F.col("npos").alias("n_pos_test"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.when(
            F.col("n_test") > 0,
            F.round((F.col("tp") + F.col("tn")) / F.col("n_test"), 6),
        ).alias("accuracy"),
        # AUC undefined on a single-class holdout (unicode-corpus sweep)
        F.when(
            F.col("npos") * F.col("nneg") > 0,
            F.round(
                (F.col("r2") - F.col("npos") * (F.col("npos") + 1))
                / (F.lit(2) * F.col("npos") * F.col("nneg")),
                6,
            ),
        ).alias("auc"),
    )


def _qgate_sql() -> str:
    R = QC_ROUNDS
    return f"""
WITH {_qc_train_cte()},
zall AS (
  SELECT t.doc_id, any_value(t.y) AS y, CAST(sum(w.wq) AS BIGINT) AS zq
  FROM feats t JOIN w{R} w ON t.j = w.j GROUP BY t.doc_id
),
gate AS (
  SELECT p.source, z.y, CASE WHEN z.zq >= 0 THEN 1 ELSE 0 END AS cls_keep
  FROM zall z JOIN per_doc p ON z.doc_id = p.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(cls_keep) AS BIGINT) AS n_cls_keep,
       CAST(sum(cls_keep * y) AS BIGINT) AS n_final_keep,
       CAST(round(sum(cls_keep * y) * 1000000.0 / count(*)) AS BIGINT)
         AS yield_ppm,
       CASE WHEN sum(cls_keep) > 0
            THEN CAST(round(sum(cls_keep * y) * 1000000.0 / sum(cls_keep))
                   AS BIGINT) END AS precision_ppm
FROM gate GROUP BY source
"""


@register("corpus_quality_gate", oracle=_qgate_sql(), tags=("text", "llmprep"))
def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style quality CASCADE applied corpus-wide: the trained
    classifier (shared _qc_fit — exactly quality_classifier_train's
    weights) runs as the cheap FIRST-pass filter over every document,
    and the expensive rule verify (here the Gopher gate that also
    labeled training; in production a full LM scorer) runs only on
    classifier survivors. Per-source out: corpus size, classifier
    keeps, final keeps, end-to-end yield, and the classifier's
    precision against the verify — the numbers a curation run reports
    per data source.

    Scale shape: training syncs QC_ROUNDS tiny gradient frames (the
    classifier discipline), then the cascade itself is ONE map-side
    pass over the checkpointed feature frame (score fold + label
    compare — no joins at all on the Spark side) into a per-source
    hash-agg. At 100 TB the verify step's cost scales with classifier
    keeps, not corpus size — the entire point of the cascade.

    Determinism: weights are bit-identical to the oracle's w{ROUNDS}
    table (see quality_classifier_train); everything downstream is
    integer counts and int/int rounded ratios."""
    base = _qc_base(spark, sf_dir)
    wq, bias, _ = _qc_fit(base)
    gate = base.select(
        "source",
        "y",
        F.when(_qc_zq(wq, bias) >= 0, 1).otherwise(0).cast("long").alias("cls_keep"),
    )
    final = F.sum(F.col("cls_keep") * F.col("y"))
    return gate.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("cls_keep").alias("n_cls_keep"),
        final.alias("n_final_keep"),
        F.round(final * 1_000_000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("yield_ppm"),
        F.when(
            F.sum("cls_keep") > 0,
            F.round(final * 1_000_000.0 / F.sum("cls_keep")).cast("bigint"),
        ).alias("precision_ppm"),
    )


# ---------------------------------------------------------------------------
# quality-classifier SERVING face: persisted weights, delta-batch scoring
# ---------------------------------------------------------------------------

QC_SERVE_LO = 400      # fixed serve delta: doc_ids [400, 500) — the same
QC_SERVE_HI = 500      # window the minhash serve probe uses


def qc_weights_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the trained weight table for `sf_dir` (input
    prep, the mh_corpus_index_path amortization contract): one training
    run persists (j, wq) — j = -1 is the bias — and every serve run
    after reads the tiny parquet. Content-fingerprinted cache path
    (round-8 ADVICE fix): regenerating the dataset invalidates it,
    same-basename dirs don't collide, root is user-owned."""
    import os

    from k8s_log_etl_spark.tables import dataset_cache_path

    # kind carries the training constants: re-pinning QC_ROUNDS or the
    # learning rate invalidates persisted weights automatically.
    kind = f"qcweights_r{QC_ROUNDS}_lr{QC_LR_NUM}-{QC_LR_DEN}"
    path = dataset_cache_path(sf_dir, kind, "documents")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = _qc_base(spark, sf_dir)
        wq, bias, _ = _qc_fit(base)
        rows = [(-1, int(bias))] + [(j, int(v)) for j, v in enumerate(wq)]
        spark.createDataFrame(rows, "j int, wq long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _qc_serve_sql() -> str:
    R = QC_ROUNDS
    return f"""
WITH {_qc_train_cte()},
batch AS (
  SELECT * FROM feats
  WHERE doc_id >= {QC_SERVE_LO} AND doc_id < {QC_SERVE_HI}
),
scored AS (
  SELECT t.doc_id, any_value(t.y) AS y, CAST(sum(w.wq) AS BIGINT) AS zq
  FROM batch t JOIN w{R} w ON t.j = w.j GROUP BY t.doc_id
)
SELECT s.doc_id, p.source,
       CASE WHEN s.zq >= 0 THEN 1 ELSE 0 END AS cls_keep,
       s.y AS rule_pass, s.zq
FROM scored s JOIN per_doc p ON s.doc_id = p.doc_id
"""


@register("quality_gate_serve", oracle=_qc_serve_sql(), tags=("text", "llmprep"))
def quality_gate_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality-gate SERVING — the steady-state face of
    quality_classifier_train, completing the train/serve symmetry the
    minhash index pair established (dedup_minhash_incremental trains
    the index, dedup_minhash_index_serve probes it): the trained weight
    table persists once per SF (qc_weights_path — 153 rows of integer
    micro-units), and each run scores only the fixed 100-doc delta
    (the same [400, 500) window the minhash serve probe ingests),
    emitting the per-doc keep decision beside the rule verdict and the
    raw integer score. The oracle retrains from scratch, so the
    hash-green row IS the persisted-weights == fresh-training
    equivalence.

    Scale shape: per-run work is one 100-doc featurize + a map-side
    fold against the BROADCAST 153-row weight table (a broadcast join
    instead of the literal-array fold so the weights stay DATA, not
    plan — re-training never recompiles the serving query). Training
    cost is paid once, off the serving path — the classifier analogue
    of an ANN index build."""
    idx = spark.read.parquet(qc_weights_path(spark, sf_dir))
    base = _qc_base(spark, sf_dir).filter(
        (F.col("doc_id") >= QC_SERVE_LO) & (F.col("doc_id") < QC_SERVE_HI)
    )
    scored = qc_score_with_weights(base, idx)
    return scored.select(
        "doc_id",
        "source",
        F.when(F.col("zq") >= 0, 1).otherwise(0).cast("long").alias("cls_keep"),
        F.col("y").alias("rule_pass"),
        "zq",
    )


def qc_score_with_weights(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """Score a featurized frame against a (j, wq) weight table: explode
    present features + the bias id, broadcast-join the tiny weight
    table, integer-sum per doc. Weights stay DATA, not plan — the
    serving/ingest queries never recompile on re-training. Returns
    (doc_id, source, y, zq)."""
    exploded = feats.select(
        "doc_id",
        "source",
        "y",
        F.explode(
            F.concat(F.col("fx"), F.array(F.lit(-1).cast("long")))
        ).alias("j"),
    )
    return (
        exploded.join(F.broadcast(weights), exploded["j"] == weights["j"])
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.first("y").alias("y"),
            F.sum("wq").alias("zq"),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocations (Church & Hanks 1990) — statistically-bound word
# pairs, the classic collocation-extraction signal a phrase-mining or
# tokenizer-seeding pass runs over a corpus.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5        # pair support floor (hapax pairs have absurd PMI)
PMI_TOP = 20
# Ranking compares the integer lift (c_ab * Q) div (c_a * c_b) — with
# the token total T and bigram total B constant, PMI is monotone in
# lift, so the selected top-k is decided without a single float op.
# Overflow headroom: c_ab * Q stays under 2^63 up to ~9e9 pair count.
PMI_LIFT_Q = 1_000_000_000
PMI_MICRO = 1_000_000    # reported PMI in integer micro-nats

_PMI_SQL = f"""
WITH words AS (
  SELECT list_transform({_WORDS_SQL}, x -> lower(x)) AS w FROM documents
),
uni AS MATERIALIZED (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(w) AS w1 FROM words) GROUP BY 1
),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM uni),
c2 AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
    SELECT w[CAST(i AS INTEGER) + 1] AS w1, w[CAST(i AS INTEGER) + 2] AS w2
    FROM words, unnest(range(greatest(len(w) - 1, 0))) AS t(i)
  ) GROUP BY 1, 2
),
btot AS (SELECT CAST(sum(c2) AS BIGINT) AS b FROM c2)
SELECT p.w1, p.w2, p.c2 AS pair_count,
       (p.c2 * CAST({PMI_LIFT_Q} AS BIGINT)) // (ua.c1 * ub.c1) AS lift_q,
       CAST(round((ln(p.c2 * 1.0 / ua.c1) - ln(ub.c1 * 1.0 / t.t)
                   - ln(b.b * 1.0 / t.t)) * {PMI_MICRO}) AS BIGINT) AS pmi_micro
FROM c2 p JOIN uni ua ON p.w1 = ua.w1 JOIN uni ub ON p.w2 = ub.w1, tot t, btot b
WHERE p.c2 >= {PMI_MIN_COUNT}
ORDER BY lift_q DESC, p.w1, p.w2 LIMIT {PMI_TOP}
"""


@register("text_collocations_pmi", oracle=_PMI_SQL, tags=("text", "llmprep"))
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI collocations: adjacent lowercased word pairs scored by
    pointwise mutual information ln(P(ab) / (P(a)·P(b))) (Church &
    Hanks 1990), support-floored at PMI_MIN_COUNT. The top-k SET is
    selected by the integer lift (c_ab·Q) div (c_a·c_b) — monotone in
    PMI at fixed corpus totals — with (lift DESC, w1, w2) tie-break,
    so selection never touches a float; the reported pmi_micro is the
    micro-nat quantization of three single-division ln terms written
    identically in both engines (the text_bigram_lm_score ln
    discipline): ln(c_ab/c_a) − ln(c_b/T) − ln(B/T).

    Scale shape: ONE hash-agg builds the unigram table and ONE the
    bigram table (map-side partials; the bigram table is data-sized
    and checkpointed — two consumers: the total and the scoring join);
    the unigram joins are keyed SHUFFLED joins, never broadcast,
    because a real unigram table is billions of rows at 100 TB (the
    bigram-LM precedent); T and B are the only broadcast scalars; the
    final top-k is TakeOrderedAndProject."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    w_lower = F.transform(_words(), lambda x: F.lower(x))
    uni = (
        d.select(F.explode(w_lower).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
        .transform(spill_checkpoint)  # three consumers: tot + two joins
    )
    tot = uni.agg(F.sum("c1").alias("t"))
    pairs = bind(
        w_lower,
        lambda w: F.transform(
            ngram_indices(w, 2),
            lambda i: F.struct(w[i].alias("w1"), w[i + 1].alias("w2")),
        ),
    )
    c2 = (
        d.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .transform(spill_checkpoint)  # two consumers: btot + scoring
    )
    btot = c2.agg(F.sum("c2").alias("b"))
    ua = uni.select(F.col("w1").alias("uw1"), F.col("c1").alias("ca"))
    ub = uni.select(F.col("w1").alias("uw2"), F.col("c1").alias("cb"))
    scored = (
        c2.filter(F.col("c2") >= PMI_MIN_COUNT)
        .join(ua, F.col("w1") == F.col("uw1"))
        .join(ub, F.col("w2") == F.col("uw2"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    lift_q = F.expr(f"(c2 * CAST({PMI_LIFT_Q} AS BIGINT)) div (ca * cb)")
    pmi_micro = (
        F.round(
            (
                F.log(F.col("c2") * 1.0 / F.col("ca"))
                - F.log(F.col("cb") * 1.0 / F.col("t"))
                - F.log(F.col("b") * 1.0 / F.col("t"))
            )
            * PMI_MICRO
        )
        .cast("bigint")
    )
    return (
        scored.select(
            "w1",
            "w2",
            F.col("c2").alias("pair_count"),
            lift_q.alias("lift_q"),
            pmi_micro.alias("pmi_micro"),
        )
        .orderBy(F.desc("lift_q"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP)
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010) — the
# phrase-level keyword signal beside tf-idf (term-level) and PMI
# (pair-level): candidate phrases are maximal stopword-free word runs,
# scored by the sum of their words' degree/frequency ratios.
# ---------------------------------------------------------------------------

RAKE_TOP = 20
RAKE_MAX_PHRASE = 4      # candidate phrases longer than this are noise runs
RAKE_SCORE_Q = 1_000_000  # per-word deg/freq ratio in integer micro-units

_RAKE_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

_RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.i AS pos, lower(w[CAST(t.i AS INTEGER)]) AS word
  FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
       unnest(range(1, len(w) + 1)) AS t(i)
),
tagged AS (
  SELECT doc_id, pos, word,
         CASE WHEN word IN {_RAKE_STOP_SQL} THEN 1 ELSE 0 END AS is_stop
  FROM toks
),
segged AS (
  SELECT doc_id, pos, word, is_stop,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM tagged
),
phrases AS MATERIALIZED (
  SELECT doc_id, seg,
         array_to_string(list(word ORDER BY pos), ' ') AS phrase,
         CAST(count(*) AS BIGINT) AS n_words
  FROM segged WHERE is_stop = 0
  GROUP BY doc_id, seg
  HAVING count(*) <= {RAKE_MAX_PHRASE}
),
occur AS MATERIALIZED (
  SELECT phrase, n_words, unnest(string_split(phrase, ' ')) AS word
  FROM phrases
),
wscore AS MATERIALIZED (
  SELECT word,
         (CAST(sum(n_words) AS BIGINT) * {RAKE_SCORE_Q})
           // CAST(count(*) AS BIGINT) AS ws_q
  FROM occur GROUP BY word
),
pscore AS (
  SELECT o.phrase, CAST(sum(s.ws_q) AS BIGINT) AS score_q
  FROM occur o JOIN wscore s ON o.word = s.word
  GROUP BY o.phrase
),
pcount AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(min(n_words) AS BIGINT) AS n_words
  FROM phrases GROUP BY phrase
)
SELECT p.phrase, c.n_words, c.n_occurrences,
       CAST((p.score_q // c.n_occurrences) AS BIGINT) AS score_micro
FROM pscore p JOIN pcount c ON p.phrase = c.phrase
ORDER BY score_micro DESC, p.phrase LIMIT {RAKE_TOP}
"""


@register("text_keyword_rake", oracle=_RAKE_SQL, tags=("text", "llmprep"))
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): split each document
    into candidate phrases at stopwords (maximal stopword-free runs,
    capped at RAKE_MAX_PHRASE words), score each word as
    degree/frequency — degree = the summed length of every phrase
    occurrence containing it, frequency = its occurrence count — and
    each phrase as the sum of its words' scores. The classic cheap
    keyword extractor a corpus-exploration pass runs before anything
    learned.

    Determinism: per-word scores are quantized FIRST ((deg · Q) div
    freq — integer division, bit-identical cross-engine), so phrase
    scores are order-free integer sums; every phrase occurrence of the
    same text contributes the same word multiset, so scoring the
    distinct phrase is exact (score_q accumulates per occurrence and
    divides back by the occurrence count — integers throughout).

    Scale shape: one posexplode, ONE per-doc window (a running sum of
    the stopword flag assigns segment ids — partitions are documents,
    so state is one doc's tokens), then phrase/word hash-aggs, one
    keyed word→score join (shuffled; the word-score table is
    vocabulary-sized), and a TakeOrderedAndProject top-k. No
    cartesian, no broadcast of data-sized frames; everything keyed on
    8-byte-or-string hash-agg keys — the dedup_lines_corpus cost
    class."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    toks = d.select(
        "doc_id", F.posexplode(_words()).alias("pos", "raw")
    ).select("doc_id", "pos", F.lower(F.col("raw")).alias("word"))
    tagged = toks.withColumn(
        "is_stop",
        F.when(F.array_contains(stop_arr, F.col("word")), 1).otherwise(0),
    )
    seg_w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    segged = tagged.withColumn("seg", F.sum("is_stop").over(seg_w))
    phrases = (
        segged.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "word"))
                    ),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .filter(F.col("n_words") <= RAKE_MAX_PHRASE)
        .transform(spill_checkpoint)  # two consumers: occur + pcount
    )
    occur = phrases.select(
        "phrase", "n_words", F.explode(F.split("phrase", " ")).alias("word")
    ).transform(spill_checkpoint)  # two consumers: wscore + pscore
    wscore = occur.groupBy("word").agg(
        F.expr(
            f"(sum(n_words) * {RAKE_SCORE_Q}) div count(1)"
        ).alias("ws_q")
    )
    pscore = (
        occur.join(wscore, "word")
        .groupBy("phrase")
        .agg(F.sum("ws_q").alias("score_q"))
    )
    pcount = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("n_words").alias("n_words"),
    )
    return (
        pscore.join(pcount, "phrase")
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.expr("score_q div n_occurrences").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# Flesch-Kincaid readability (Kincaid et al. 1975) — the classic
# grade-level signal corpus quality filters bucket documents by
# ---------------------------------------------------------------------------

_FK_SYL_RE = "[aeiouy]+"
_FK_SENT_RE = "[.!?]+"

_FK_SQL = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(w) AS BIGINT) AS nw,
         greatest(CAST(len(list_filter(string_split_regex(text, '{_FK_SENT_RE}'),
                                       x -> trim(x) <> '')) AS BIGINT), 1) AS ns,
         CAST(list_sum(list_transform(w,
              x -> greatest(len(regexp_extract_all(lower(x), '{_FK_SYL_RE}')), 1)))
              AS BIGINT) AS ny
  FROM (SELECT source, text, {_WORDS_SQL} AS w FROM documents)
  WHERE len(w) >= 1
),
graded AS (
  SELECT source,
         (390 * nw) // ns + (11800 * ny) // nw - 15590 AS g_milli
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(g_milli) AS BIGINT) AS min_grade_milli,
       CAST(max(g_milli) AS BIGINT) AS max_grade_milli,
       round(sum(g_milli) * 1.0 / count(*) / 1000, 6) AS avg_grade
FROM graded GROUP BY source
"""


@register("text_readability_fk", oracle=_FK_SQL, tags=("text", "llmprep"))
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per source (Kincaid et al. 1975):
    0.39·(words/sentences) + 11.8·(syllables/word) − 15.59, the
    readability bucket corpus-quality filters use alongside Gopher
    rules. Syllables are vowel-group runs ([aeiouy]+ matches, floored
    at 1/word — the standard heuristic), sentences split on [.!?]+
    runs (floored at 1 so terminator-free docs count as one
    sentence); empty docs are excluded (no words = no grade).

    Determinism: each document's grade is computed in integer
    milli-grades with floor division on all-positive operands
    ((390·W) div S + (11800·Y) div W − 15590), so per-source sums are
    order-free; only the final per-source average divides floats
    (single division, round 6 — the avg_nll pattern). Both regexes
    are in the Java-regex/RE2-common subset.

    Scale shape: entirely map-side per document (one split + one
    per-word regex fold; no explode — the syllable sum is an array
    aggregate) followed by one |sources|-key hash-agg. Scan-bound at
    any scale."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    w = _words()
    sent = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), _FK_SENT_RE), lambda x: F.trim(x) != ""
            )
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    syl = F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.greatest(
            F.size(F.regexp_extract_all(F.lower(x), F.lit(_FK_SYL_RE), 0)),
            F.lit(1),
        ).cast("long"),
    )
    per_doc = (
        d.select(
            "source",
            F.size(w).cast("long").alias("nw"),
            sent.alias("ns"),
            syl.alias("ny"),
        )
        .filter(F.col("nw") >= 1)
    )
    graded = per_doc.select(
        "source",
        F.expr("(390 * nw) div ns + (11800 * ny) div nw - 15590").alias(
            "g_milli"
        ),
    )
    return graded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("g_milli").alias("min_grade_milli"),
        F.max("g_milli").alias("max_grade_milli"),
        F.round(F.sum("g_milli") / F.count(F.lit(1)) / 1000, 6).alias(
            "avg_grade"
        ),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
# the MOSS local document-fingerprinting algorithm)
# ---------------------------------------------------------------------------

WINNOW_K = 3           # word k-grams hashed into the winnowing stream
WINNOW_W = 4           # window of consecutive k-gram hashes
WINNOW_CAP = 50        # posting cap: drop fingerprints in > CAP docs
WINNOW_MIN_SHARED = 2  # report pairs sharing at least this many fps

_WINNOW_GRAM = " || ' ' || ".join(f"w[i+{j}]" for j in range(1, WINNOW_K + 1))

_WINNOW_SQL = f"""
WITH words AS (
  SELECT doc_id, {_WORDS_SQL} AS w FROM documents WHERE text IS NOT NULL
),
gh AS (
  SELECT doc_id,
         list_transform(range(greatest(len(w) - {WINNOW_K - 1}, 0)),
           i -> {X.md5_long_sql(f"({_WINNOW_GRAM})")}) AS g
  FROM words
),
fps AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(g) - least({WINNOW_W}, len(g)) + 2),
           i -> list_min(list_slice(g, i, i + least({WINNOW_W}, len(g)) - 1))
         ))) AS h
  FROM gh WHERE len(g) >= 1
),
okh AS (
  SELECT h FROM fps GROUP BY h
  HAVING count(*) BETWEEN 2 AND {WINNOW_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM fps a
  JOIN okh ON okh.h = a.h
  JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared_fps FROM pairs
WHERE shared_fps >= {WINNOW_MIN_SHARED}
"""


@register("text_winnow_fingerprints", oracle=_WINNOW_SQL, tags=("text", "dedup"))
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    algorithm): per document, hash every WINNOW_K-word gram, slide a
    window of WINNOW_W consecutive hashes, and keep each window's
    MINIMUM as a fingerprint — a LOCAL sketch with the paper's
    guarantee that any shared run of at least w + k - 1 words yields
    at least one shared fingerprint (unlike the global-min
    text_fingerprint_clusters sketch, which can miss a long shared
    passage entirely). Output: document pairs sharing >=
    WINNOW_MIN_SHARED fingerprints with the shared count — the
    plagiarism/provenance-detection face of the fingerprint family.
    Expected fingerprint density is 2/(w+1) of gram positions, so the
    sketch is ~3x smaller than the gram stream before dedup even
    starts.

    Determinism: hashes are md5_long (the suite's cross-engine 60-bit
    hash); each window's selected VALUE is its minimum, so the
    rightmost-tie positional rule of the paper — which affects only
    which position is recorded, never the hash value — does not enter
    the distinct-hash fingerprint set both engines compare.

    Scale shape: the gram hash stream and window minima are pure
    map-side array work (bind()-bound, O(words * w) per doc); the
    only shuffles are one (doc, fingerprint) distinct-ish explode agg
    and the capped-posting pair expansion (the corpus_source_overlap
    grouped-expansion discipline: per-fingerprint sorted doc sets,
    bounded by WINNOW_CAP, pairs emitted map-side — never an uncapped
    fingerprint self-join); the oracle keeps the literal self-join to
    pin equivalence. 100 TB: identical to the MinHash family's
    banded-join bound."""
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    gh = bind(
        _word_ngrams(WINNOW_K),
        lambda gs: F.transform(gs, lambda g: X.md5_long(g)),
    )

    def select_fps(g: F.Column) -> F.Column:
        wl = F.least(F.lit(WINNOW_W), F.size(g))
        wins = F.sequence(F.lit(1), F.size(g) - wl + 1)
        mins = F.transform(wins, lambda i: F.array_min(F.slice(g, i, wl)))
        return F.when(F.size(g) >= 1, F.array_distinct(mins)).otherwise(
            F.array().cast("array<bigint>")
        )

    fps = d.select(
        "doc_id", F.explode(bind(gh, select_fps)).alias("h")
    )
    sets = (
        fps.groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= WINNOW_CAP))
    )
    ds = F.col("ds")
    pair_list = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("da"), y.alias("db")),
            ),
        )
    )
    return (
        sets.select(F.explode(pair_list).alias("p"))
        .groupBy(F.col("p.da").alias("doc_a"), F.col("p.db").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )
