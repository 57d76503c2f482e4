"""Round-6 LLM-curation operators: Gopher rule gates, PII redaction,
DSIR importance weighting, n-gram diversity, tokenizer fertility.

These extend the text/dedup curation surface with the standard
pretraining-pipeline passes not yet covered (SURVEY.md beyond-reference
scope; the reference — a climbing-safety API, e.g. backend/app/services/
safety_computation.py — has no text pipeline, so every citation here is
to the public method literature instead):

* Gopher quality rules (Rae et al. 2021, appendix A1.1): hard rule
  battery over word counts / word shape / stopword presence.
* PII redaction: the transform sibling of q_text_pii_scan — replace
  instead of count, with before/after evidence columns.
* DSIR (Xie et al. 2023): importance = log p_target(x) - log p_raw(x)
  under hashed-unigram bag models, selecting raw docs that look like the
  target domain.
* Distinct-n-gram diversity (the Self-BLEU / distinct-n family used to
  detect templated or synthetic-collapse corpora).
* Tokenizer fertility (tokens-per-word by language) — the standard
  multilingual tokenizer-quality readout.

Exactness follows repo convention: integer milli/ppm units via floor
division everywhere; the only doubles are inside floor(1e6 * ln(ratio))
model weights computed ONCE per vocabulary-grain row (the micro-nat
device of text_nb_confusion / text_bigram_lm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import domain
from .text import (STOPWORDS, TOKENS_CTE, VOCAB_CTE, docs_df, tokens_df,
                   vocab_df, PII_PATTERNS)

# --- Gopher rule battery ------------------------------------------------------
# Thresholds follow Gopher's shape but are calibrated to this corpus's
# 10-99-word synthetic documents so the gate genuinely splits the data
# (Gopher's 50-word floor would be the only active rule otherwise).

GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL_MILLI = 3_000     # mean word length in [3, 10] chars
GOPHER_MAX_MWL_MILLI = 10_000
GOPHER_MIN_ALPHA_PM = 800        # >= 80% of words contain a letter
GOPHER_MIN_STOP_DISTINCT = 2     # >= 2 distinct stopwords present


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule flags + the conjunctive keep verdict.

    Scale shape: one map-side-combined groupBy over the token stream;
    every statistic is an exact integer (milli / per-mille floors), so
    the verdict is bit-reproducible in any engine.  Empty docs surface
    with n_words = 0 and fail the word-count rule.
    """
    t = tokens_df(spark, sf_dir)
    stats = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.length("word")).cast("bigint").alias("n_word_chars"),
        F.sum(F.when(F.col("word").rlike("[a-zA-Z]"), 1).otherwise(0))
         .cast("bigint").alias("n_alpha_words"),
        F.count_distinct(
            F.when(F.col("word").isin(*STOPWORDS), F.col("word")))
         .cast("bigint").alias("n_stop_distinct"))
    d = docs_df(spark, sf_dir).select("doc_id")
    j = (d.join(stats, "doc_id", "left")
          .na.fill(0, ["n_words", "n_word_chars", "n_alpha_words",
                       "n_stop_distinct"])
          .withColumn("mean_word_len_milli",
                      F.expr("CASE WHEN n_words > 0 THEN "
                             "n_word_chars * 1000 div n_words ELSE 0 END"))
          .withColumn("alpha_word_pm",
                      F.expr("CASE WHEN n_words > 0 THEN "
                             "n_alpha_words * 1000 div n_words ELSE 0 END")))
    r_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_mwl = F.col("mean_word_len_milli").between(
        GOPHER_MIN_MWL_MILLI, GOPHER_MAX_MWL_MILLI)
    r_alpha = F.col("alpha_word_pm") >= GOPHER_MIN_ALPHA_PM
    r_stop = F.col("n_stop_distinct") >= GOPHER_MIN_STOP_DISTINCT
    return (j.select("doc_id", "n_words", "mean_word_len_milli",
                     "alpha_word_pm", "n_stop_distinct",
                     r_words.alias("rule_word_count"),
                     r_mwl.alias("rule_mean_word_len"),
                     r_alpha.alias("rule_alpha_words"),
                     r_stop.alias("rule_stopwords"),
                     (r_words & r_mwl & r_alpha & r_stop).alias("keep"))
             .orderBy("doc_id"))


def sql_text_gopher_rules() -> str:
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH {TOKENS_CTE.strip()},
stats AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(length(word)) AS BIGINT) AS n_word_chars,
         CAST(sum(CASE WHEN regexp_matches(word, '[a-zA-Z]')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
         CAST(count(DISTINCT CASE WHEN word IN ({stop_in})
                                  THEN word END) AS BIGINT)
           AS n_stop_distinct
  FROM tokens GROUP BY doc_id
),
j AS (
  SELECT d.doc_id,
         coalesce(s.n_words, 0) AS n_words,
         CASE WHEN coalesce(s.n_words, 0) > 0
              THEN s.n_word_chars * 1000 // s.n_words ELSE 0 END
           AS mean_word_len_milli,
         CASE WHEN coalesce(s.n_words, 0) > 0
              THEN s.n_alpha_words * 1000 // s.n_words ELSE 0 END
           AS alpha_word_pm,
         coalesce(s.n_stop_distinct, 0) AS n_stop_distinct
  FROM documents d LEFT JOIN stats s USING (doc_id)
)
SELECT doc_id, n_words,
       CAST(mean_word_len_milli AS BIGINT) AS mean_word_len_milli,
       CAST(alpha_word_pm AS BIGINT) AS alpha_word_pm,
       n_stop_distinct,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
         AS rule_word_count,
       mean_word_len_milli
         BETWEEN {GOPHER_MIN_MWL_MILLI} AND {GOPHER_MAX_MWL_MILLI}
         AS rule_mean_word_len,
       alpha_word_pm >= {GOPHER_MIN_ALPHA_PM} AS rule_alpha_words,
       n_stop_distinct >= {GOPHER_MIN_STOP_DISTINCT} AS rule_stopwords,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mean_word_len_milli
              BETWEEN {GOPHER_MIN_MWL_MILLI} AND {GOPHER_MAX_MWL_MILLI})
         AND alpha_word_pm >= {GOPHER_MIN_ALPHA_PM}
         AND n_stop_distinct >= {GOPHER_MIN_STOP_DISTINCT} AS keep
FROM j
ORDER BY doc_id"""


# --- PII redaction ------------------------------------------------------------
# The transform sibling of q_text_pii_scan: replace every email / URL /
# long digit run with a typed placeholder.  Redaction order is fixed
# (emails, then URLs, then numbers) so the output is deterministic even
# where patterns could overlap; the md5 of the redacted text is the
# cross-engine value witness (both engines emit the same lowercase hex).
#
# Scale shape: pure JVM regexp_replace projections — no UDF, no shuffle
# beyond the presentation sort; at 100 TB this is a map-only pass.

_REDACT = [("emails", "<EMAIL>"), ("urls", "<URL>"),
           ("long_numbers", "<NUM>")]


def redacted_col(col):
    """The redaction Column expression, factored so tests can apply it to
    constructed rows: the sf* documents fixture happens to contain no
    PII-shaped strings (pii_scan is all-zero there too), so the
    transform's replace behavior is pinned by tests/test_curation_r6.py
    on synthetic emails/URLs/digit runs, while the registered query pins
    the no-op case (md5 witnesses) against the oracle."""
    red = col
    for key, token in _REDACT:
        red = F.regexp_replace(red, PII_PATTERNS[key], token)
    return red


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    red = redacted_col(F.col("text"))
    counts = {k: F.size(F.regexp_extract_all(F.col("text"),
                                             F.lit(PII_PATTERNS[k]), 0))
              for k, _ in _REDACT}
    return (d.select(
                "doc_id",
                *[c.cast("bigint").alias(f"n_{k}")
                  for k, c in counts.items()],
                F.length("text").cast("bigint").alias("n_chars_before"),
                F.length(red).cast("bigint").alias("n_chars_after"),
                F.md5(red.cast("binary")).alias("redacted_md5"))
             .orderBy("doc_id"))


def sql_text_pii_redact() -> str:
    red = "text"
    for key, token in _REDACT:
        red = f"regexp_replace({red}, '{PII_PATTERNS[key]}', '{token}', 'g')"
    cols = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{PII_PATTERNS[k]}')) AS BIGINT)"
        f" AS n_{k}" for k, _ in _REDACT)
    return f"""
SELECT doc_id, {cols},
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length({red}) AS BIGINT) AS n_chars_after,
       md5({red}) AS redacted_md5
FROM documents ORDER BY doc_id"""


# --- DSIR importance weighting -------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score every
# raw document by log p_target(x) - log p_raw(x) under hashed-unigram bag
# models, where the target is the domain you want more of (here: the
# English subcorpus).  Docs with positive per-token importance "look like
# the target"; DSIR then samples proportionally — the deterministic
# is_targetlike flag is the oracle-checkable core of that decision.
#
# Exactness: per-bucket weights are floored ONCE to integer micro-nats
# (ln on identical integer-derived doubles in both engines — the NB /
# bigram-LM convention); per-doc sums are exact BIGINT.
#
# Scale shape: the model is DSIR_BUCKETS rows regardless of vocabulary or
# corpus size (that is the point of hashing) and broadcasts onto the
# token stream; the word->bucket map rides the vocab dimension (wid is
# data-derived, so the bucket assignment is engine-independent — no
# reliance on engine hash functions).  One corpus pass, two bounded
# shuffles.

DSIR_BUCKETS = 4096
DSIR_KNUTH = 2_654_435_761
DSIR_P = 1_000_000_007
DSIR_TARGET_LANG = "en"


@domain.checkpointed("dsir_doc_bucket", scope="invocation")
def _dsir_doc_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, lang, bucket, count) token-stream proxy."""
    t = tokens_df(spark, sf_dir)
    v = vocab_df(spark, sf_dir).withColumn(
        "bucket", F.expr(f"pmod(wid * {DSIR_KNUTH}L, {DSIR_P}L) "
                         f"% {DSIR_BUCKETS}"))
    lang = docs_df(spark, sf_dir).select("doc_id", "lang")
    tb = (t.join(F.broadcast(v.select("word", "bucket")), "word")
           .join(lang, "doc_id"))
    return (tb.groupBy("doc_id", "lang", "bucket")
              .agg(F.count(F.lit(1)).alias("c")))


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §8 / §3.3): collapse the token stream to the
    # (doc, lang, bucket, count) proxy and materialize it once — the
    # raw/target model counts, the model join and the per-doc rollup all
    # previously re-derived the full tokenize+join subtree (the plan
    # snapshot showed 80 parquet scans).  The proxy drops word strings
    # and is bounded by |docs| x min(|buckets|, doc length).
    db = _dsir_doc_bucket(spark, sf_dir)
    tgt = (db.filter(F.col("lang") == DSIR_TARGET_LANG)
             .groupBy("bucket").agg(F.sum("c").alias("c_t")))
    raw = db.groupBy("bucket").agg(F.sum("c").alias("c_s"))
    tot = (raw.agg(F.sum("c_s").alias("n_s"))
              .crossJoin(tgt.agg(F.sum("c_t").alias("n_t"))))
    model = (raw.join(tgt, "bucket", "left")
                .na.fill(0, ["c_t"])
                .crossJoin(F.broadcast(tot))
                .select("bucket", F.floor(F.lit(1e6) * (
                    F.log((F.col("c_t") + F.lit(1.0)) /
                          (F.col("n_t") + F.lit(float(DSIR_BUCKETS)))) -
                    F.log((F.col("c_s") + F.lit(1.0)) /
                          (F.col("n_s") + F.lit(float(DSIR_BUCKETS))))))
                    .cast("bigint").alias("w_micro")))
    return (db.join(F.broadcast(model), "bucket")
              .groupBy("doc_id", "lang")
              .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                   F.sum(F.col("w_micro") * F.col("c"))
                    .alias("dsir_sum_micro")))


def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (_dsir_scored(spark, sf_dir)
         .select(
             "doc_id", "lang", "n_tokens", "dsir_sum_micro",
             # floor division of a possibly-negative numerator must
             # floor (not truncate) to match DuckDB //: use the
             # double-floor device (exact: |sum| < 2^52 by construction
             # — n_tokens <= 1e5 and |w_micro| <= ~20e6)
             F.floor(F.col("dsir_sum_micro").cast("double") /
                     F.col("n_tokens").cast("double"))
              .cast("bigint").alias("dsir_per_token_micro")))
    # the DSIR keep flag is RELATIVE (select docs that look MORE like the
    # target than the corpus does on average): Laplace smoothing shifts
    # every absolute log-ratio negative, so the comparison is against the
    # corpus mean per-token importance, as an exact integer cross-multiply
    # over a 1-row broadcast (no division, no float threshold)
    tot = s.agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("dsir_per_token_micro").alias("sum_ppt"))
    return (s.crossJoin(F.broadcast(tot))
             .withColumn("is_targetlike",
                         F.col("dsir_per_token_micro") * F.col("n_docs")
                         > F.col("sum_ppt"))
             .drop("n_docs", "sum_ppt")
             .orderBy("doc_id"))


def sql_sample_dsir() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
{VOCAB_CTE.strip()},
wb AS (
  SELECT word, ((wid * {DSIR_KNUTH}) % {DSIR_P}) % {DSIR_BUCKETS} AS bucket
  FROM vocab
),
tb AS (
  SELECT t.doc_id, d.lang, w.bucket
  FROM tokens t JOIN wb w USING (word)
  JOIN documents d USING (doc_id)
),
raw AS (SELECT bucket, count(*) AS c_s FROM tb GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS c_t FROM tb
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
tot AS (
  SELECT (SELECT sum(c_s) FROM raw) AS n_s,
         (SELECT sum(c_t) FROM tgt) AS n_t
),
model AS (
  SELECT r.bucket,
         CAST(floor(1000000.0 * (
             ln((coalesce(g.c_t, 0) + 1.0) / (t.n_t + {DSIR_BUCKETS}.0))
           - ln((r.c_s + 1.0) / (t.n_s + {DSIR_BUCKETS}.0))))
              AS BIGINT) AS w_micro
  FROM raw r LEFT JOIN tgt g USING (bucket) CROSS JOIN tot t
),
scored AS (
  SELECT tb.doc_id, tb.lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(m.w_micro) AS BIGINT) AS dsir_sum_micro
  FROM tb JOIN model m USING (bucket)
  GROUP BY tb.doc_id, tb.lang
),
ppt AS (
  SELECT doc_id, lang, n_tokens, dsir_sum_micro,
         CAST(floor(CAST(dsir_sum_micro AS DOUBLE) / n_tokens) AS BIGINT)
           AS dsir_per_token_micro
  FROM scored
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dsir_per_token_micro) AS BIGINT) AS sum_ppt
  FROM ppt
)
SELECT doc_id, lang, n_tokens, dsir_sum_micro, dsir_per_token_micro,
       dsir_per_token_micro * n_docs > sum_ppt AS is_targetlike
FROM ppt CROSS JOIN corpus
ORDER BY doc_id"""


# --- Distinct-n-gram diversity --------------------------------------------------
# The distinct-n / Self-BLEU-style corpus diversity readout: per source
# and n in {1,2,3}, total n-grams vs distinct n-grams.  Low distinct
# ratios expose templated or synthetically-collapsed subcorpora BEFORE
# they poison a training mix.
#
# Scale shape: one (source, gram) pre-aggregation per n (map-side
# combined; the distinct count is a re-aggregation of that table, never
# a distinct over raw rows); output is |sources| x 3 rows.

def _source_grams(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    d = docs_df(spark, sf_dir).select("doc_id", "source", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    if n == 1:
        gram = F.explode(toks).alias("gram")
    else:
        gram = F.explode(F.expr(
            f"CASE WHEN size(toks) >= {n} THEN transform("
            f"sequence(1, size(toks) - {n - 1}), "
            f"i -> array_join(slice(toks, i, {n}), ' ')) "
            "ELSE CAST(array() AS array<string>) END")).alias("gram")
    base = d.select("source", toks.alias("toks")) if n > 1 else d
    return (base.select("source", gram)
                .groupBy("source", "gram")
                .agg(F.count(F.lit(1)).alias("c")))


def q_text_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for n in (1, 2, 3):
        g = _source_grams(spark, sf_dir, n)
        parts.append(
            g.groupBy("source")
             .agg(F.sum("c").cast("bigint").alias("total_ngrams"),
                  F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"))
             .withColumn("n", F.lit(n)))
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (out.select("source", F.col("n").cast("int").alias("n"),
                       "total_ngrams", "distinct_ngrams",
                       F.expr("distinct_ngrams * 1000000 div total_ngrams")
                        .alias("distinct_ppm"))
               .orderBy("source", "n"))


def sql_text_distinct_ngrams() -> str:
    legs = []
    for n in (1, 2, 3):
        if n == 1:
            grams = """
  SELECT source, unnest(ws) AS gram
  FROM (SELECT source, list_filter(string_split(text, ' '), x -> x <> '')
               AS ws FROM documents)"""
        else:
            grams = f"""
  SELECT source, array_to_string(ws[i:i+{n - 1}], ' ') AS gram
  FROM (SELECT source, ws,
               unnest(generate_series(1, len(ws) - {n - 1})) AS i
        FROM (SELECT source,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS ws
              FROM documents)
        WHERE len(ws) >= {n})"""
        legs.append(f"""
SELECT source, {n} AS n,
       CAST(count(*) AS BIGINT) AS total_ngrams,
       CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
       CAST(count(DISTINCT gram) * 1000000 // count(*) AS BIGINT)
         AS distinct_ppm
FROM ({grams})
GROUP BY source""")
    union = "\nUNION ALL\n".join(legs)
    return f"""
SELECT source, CAST(n AS INT) AS n, total_ngrams, distinct_ngrams,
       distinct_ppm
FROM ({union})
ORDER BY source, n"""


# --- Tokenizer fertility by language -------------------------------------------
# Fertility (BPE tokens emitted per whitespace word) per language — the
# standard multilingual tokenizer-quality metric: a tokenizer trained on
# one language's distribution "over-segments" the others, and fertility
# is how that shows up.  Rides the trained q_bpe_encode segmentations.
#
# Scale shape: the per-word segmentation table is vocabulary-grain and
# broadcasts; the rollup is |langs| rows.

def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _bpe_train_states, _bpe_syms
    _, states = _bpe_train_states(spark, sf_dir)
    seg = states.select(
        "word", F.size(_bpe_syms(F.col("state"))).alias("n_syms"))
    t = tokens_df(spark, sf_dir)
    lang = docs_df(spark, sf_dir).select("doc_id", "lang")
    return (t.join(F.broadcast(seg), "word")
             .join(lang, "doc_id")
             .groupBy("lang")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                  F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
                  F.sum(F.length("word")).cast("bigint").alias("n_chars"))
             .select("lang", "n_words", "n_bpe_tokens",
                     F.expr("n_bpe_tokens * 1000000 div n_words")
                      .alias("fertility_ppm"),
                     F.expr("n_chars * 1000000 div n_bpe_tokens")
                      .alias("chars_per_token_ppm"))
             .orderBy("lang"))


def sql_bpe_fertility() -> str:
    from .text import _sql_bpe_ctes, BPE_MERGES
    return f"""{_sql_bpe_ctes()},
seg AS (
  SELECT word,
         len(list_filter(string_split(state, '  '), x -> x <> '')) AS n_syms
  FROM state{BPE_MERGES}
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.n_syms) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(s.n_syms) * 1000000 // count(*) AS BIGINT)
         AS fertility_ppm,
       CAST(sum(length(t.word)) * 1000000 // sum(s.n_syms) AS BIGINT)
         AS chars_per_token_ppm
FROM tokens t
JOIN seg s USING (word)
JOIN documents d USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang"""


# --- Interpolated Kneser-Ney bigram LM ----------------------------------------
# The standard n-gram smoothing (Kneser & Ney 1995; Chen & Goodman 1999)
# behind KenLM-style corpus-quality filters: absolute discount D on seen
# bigrams, with the stolen mass backed off to the CONTINUATION
# probability (how many distinct contexts a word follows — "Francisco"
# is frequent but only ever follows "San", so its continuation mass is
# tiny).  Completes the repo's LM ladder (unigram -> Laplace bigram ->
# KN bigram).
#
# Exactness: with D = 3/4, every term is a ratio of BIGINT counts:
#   P(w2|w1) = max(c12 - D, 0)/c1 + D * N1p(w1)/c1 * N1m(w2)/N1mm
#            = [max(4*c12 - 3, 0) * N1mm + 3 * N1p(w1) * N1m(w2)]
#              / (4 * c1 * N1mm)
# emitted as one floor division to ppm on DECIMAL(38,0)/HUGEINT — no
# float ever appears, so this is exact at ANY corpus size (stronger than
# the floored-log micro-nat convention, which is exact only per model
# cell).
#
# Scale shape: all four statistics are map-side-combined aggregates of
# the bigram table; N1p / N1m / N1mm are re-aggregations of the distinct
# bigram TYPE table (vocabulary^2-bounded, not corpus-bounded); the
# output is one row per observed bigram type.

KN_DISCOUNT_NUM = 3          # D = 3/4 as an exact rational
KN_DISCOUNT_DEN = 4


def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _doc_bigrams
    bg = _doc_bigrams(spark, sf_dir)
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"),
                               F.count(F.lit(1)).alias("n1p"))
    n1m = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1m"))
    n1mm = c12.agg(F.count(F.lit(1)).alias("n1mm"))
    dec = "DECIMAL(38,0)"
    p_ppm = F.expr(
        f"CAST((CAST(greatest({KN_DISCOUNT_DEN} * c12 "
        f"- {KN_DISCOUNT_NUM}, 0) AS {dec}) * n1mm "
        f"+ CAST({KN_DISCOUNT_NUM} AS {dec}) * n1p * n1m) * 1000000 "
        f"div (CAST({KN_DISCOUNT_DEN} AS {dec}) * c1 * n1mm) AS BIGINT)")
    return (c12.join(F.broadcast(c1), "w1")
               .join(F.broadcast(n1m), "w2")
               .crossJoin(F.broadcast(n1mm))
               .select("w1", "w2", "c12",
                       F.col("c1").cast("bigint").alias("c1"),
                       F.col("n1p").cast("bigint").alias("n1p_w1"),
                       F.col("n1m").cast("bigint").alias("n1m_w2"),
                       p_ppm.alias("p_kn_ppm"))
               .orderBy("w1", "w2"))


def sql_text_kneser_ney() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM toks WHERE len(ws) > 1)
),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
              CAST(count(*) AS BIGINT) AS n1p
       FROM c12 GROUP BY w1),
n1m AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1m FROM c12 GROUP BY w2),
n1mm AS (SELECT CAST(count(*) AS BIGINT) AS n1mm FROM c12)
SELECT b.w1, b.w2, b.c12, u.c1, u.n1p AS n1p_w1, m.n1m AS n1m_w2,
       CAST((CAST(greatest({KN_DISCOUNT_DEN} * b.c12
                           - {KN_DISCOUNT_NUM}, 0) AS HUGEINT) * t.n1mm
             + CAST({KN_DISCOUNT_NUM} AS HUGEINT) * u.n1p * m.n1m)
            * 1000000
            // (CAST({KN_DISCOUNT_DEN} AS HUGEINT) * u.c1 * t.n1mm)
            AS BIGINT) AS p_kn_ppm
FROM c12 b
JOIN c1 u USING (w1)
JOIN n1m m USING (w2)
CROSS JOIN n1mm t
ORDER BY b.w1, b.w2"""


# --- Retrieval quality: NDCG@k against label ground truth ---------------------
# The ranking-quality readout of the retrieval stack (BM25 / ANN / RRF /
# MMR): binary relevance = "neighbor shares the query's label", DCG
# discounts 1/log2(rank+1).  search_eval_metrics covers recall/MRR of
# the ANN layer; NDCG adds the position-weighted contract the ranking
# literature reports.
#
# Exactness: the discount is floored ONCE per rank position (k bounded
# positions, identical log2 inputs in both engines — the NB convention);
# DCG/IDCG are exact BIGINT dot products of relevance with that table;
# NDCG is one ppm floor division.  IDCG uses min(k, corpus relevant
# count) positions — the textbook ideal ranking.
#
# Scale shape: rides the same int8 exact top-k as ann_cosine_topk_int8
# (swappable for any ANN stage); the discount table is K rows broadcast;
# per-query output.

NDCG_K = 10


def q_search_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from .similarity import N_QUERIES, quantized_df
    from .. import domain
    e = quantized_df(spark, sf_dir)
    qs = (e.filter(F.col("vec_id") < N_QUERIES)
           .select(F.col("vec_id").alias("query_id"),
                   F.col("label").alias("qlabel"),
                   F.col("qvec").alias("quvec")))
    dot = F.aggregate(F.zip_with(F.col("qvec"), F.col("quvec"),
                                 lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (domain.fan_out(e).crossJoin(F.broadcast(qs))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "qlabel", "vec_id", "label",
                      dot.alias("dot")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("vec_id"))
    topk = (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= NDCG_K))
    disc = F.expr("CAST(floor(1000000 / log2(rnk + 1)) AS BIGINT)")
    rel = (F.col("label") == F.col("qlabel")).cast("bigint")
    per_q = (topk.select("query_id", "qlabel", "rnk",
                         (rel * disc).alias("gain_micro"))
                 .groupBy("query_id", "qlabel")
                 .agg(F.sum("gain_micro").alias("dcg_micro")))
    # corpus relevant count per query label (excluding the query itself)
    nrel = (e.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab")))
    ideal_n = F.least(F.lit(NDCG_K).cast("bigint"),
                      (F.col("n_lab") - 1).cast("bigint"))
    # IDCG = sum of the first ideal_n discounts — fold over a sequence
    idcg = F.expr(
        "aggregate(sequence(1L, ideal_n), 0L, (acc, r) -> "
        "acc + CAST(floor(1000000 / log2(r + 1)) AS BIGINT))")
    return (per_q.join(F.broadcast(nrel),
                       per_q.qlabel == nrel.label)
                 .withColumn("n_rel", (F.col("n_lab") - 1).cast("bigint"))
                 .withColumn("ideal_n", ideal_n)
                 .withColumn("idcg_micro", idcg)
                 .select("query_id", F.col("qlabel").cast("int")
                          .alias("qlabel"),
                         "n_rel", "dcg_micro",
                         F.col("idcg_micro").cast("bigint")
                          .alias("idcg_micro"),
                         F.expr("dcg_micro * 1000000 div idcg_micro")
                          .alias("ndcg_ppm"))
                 .orderBy("query_id"))


def sql_search_ndcg() -> str:
    from .similarity import N_QUERIES
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    return f"""
WITH qflat AS (
  SELECT vec_id, label, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
),
dots AS (
  SELECT q.vec_id AS query_id, max(q.label) AS qlabel,
         c.vec_id, max(c.label) AS clabel,
         CAST(sum(q.x * c.x) AS BIGINT) AS dot
  FROM qflat q JOIN qflat c ON q.i = c.i
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
topk AS (
  SELECT query_id, qlabel, clabel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, vec_id) AS rnk
  FROM dots
),
dcg AS (
  SELECT query_id, qlabel,
         CAST(sum(CASE WHEN clabel = qlabel
                  THEN CAST(floor(1000000 / log2(rnk + 1)) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS dcg_micro
  FROM topk WHERE rnk <= {NDCG_K}
  GROUP BY query_id, qlabel
),
nlab AS (
  SELECT label, count(*) AS n_lab
  FROM embeddings GROUP BY label
),
ideal AS (
  SELECT d.query_id, d.qlabel, d.dcg_micro,
         CAST(l.n_lab - 1 AS BIGINT) AS n_rel,
         CAST((SELECT sum(CAST(floor(1000000 / log2(r + 1)) AS BIGINT))
               FROM unnest(generate_series(
                   1, least({NDCG_K}, l.n_lab - 1))) AS t(r))
              AS BIGINT) AS idcg_micro
  FROM dcg d JOIN nlab l ON d.qlabel = l.label
)
SELECT query_id, CAST(qlabel AS INT) AS qlabel, n_rel, dcg_micro,
       idcg_micro,
       CAST(dcg_micro * 1000000 // idcg_micro AS BIGINT) AS ndcg_ppm
FROM ideal
ORDER BY query_id"""


# --- Leading-boilerplate detection --------------------------------------------
# Scraped corpora carry shared leading boilerplate (cookie banners,
# nav headers) per source; the curation pass detects each source's most
# common leading trigram and flags the docs that start with it — the
# strip decision a cleaning pipeline applies before dedup/training.
#
# Scale shape: the leading trigram is one expression per doc (no
# explode); the per-source argmax rides a |sources x distinct leads|
# aggregate; the verdict joins the tiny per-source table back broadcast.

BOILERPLATE_MIN_DOCS = 2


def q_text_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    base = (d.select("doc_id", "source", toks.alias("ws"))
             .withColumn("n_words", F.size("ws").cast("bigint"))
             .withColumn("lead3",
                         F.when(F.col("n_words") >= 3,
                                F.expr("array_join(slice(ws, 1, 3), ' ')"))))
    counts = (base.filter(F.col("lead3").isNotNull())
                  .groupBy("source", "lead3")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    # deterministic argmax: max count, then lexicographically SMALLEST
    # lead3 among ties — two bounded aggregates
    maxc = counts.groupBy("source").agg(F.max("c").alias("max_c"))
    arg = (counts.join(F.broadcast(maxc), "source")
                 .filter(F.col("c") == F.col("max_c"))
                 .groupBy("source")
                 .agg(F.min("lead3").alias("bp_lead3"),
                      F.max("max_c").alias("bp_count")))
    return (base.join(F.broadcast(arg), "source", "left")
                .withColumn("has_boilerplate",
                            F.coalesce(
                                (F.col("lead3") == F.col("bp_lead3"))
                                & (F.col("bp_count")
                                   >= BOILERPLATE_MIN_DOCS),
                                F.lit(False)))
                .select("doc_id", "source", "n_words",
                        F.col("bp_lead3").alias("source_boilerplate"),
                        F.col("bp_count").alias("boilerplate_docs"),
                        "has_boilerplate",
                        F.when(F.col("has_boilerplate"),
                               F.col("n_words") - 3)
                         .otherwise(F.col("n_words"))
                         .cast("bigint").alias("stripped_n_words"))
                .orderBy("doc_id"))


def sql_text_strip_boilerplate() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
sized AS (
  SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_words,
         CASE WHEN len(ws) >= 3
              THEN array_to_string(ws[1:3], ' ') END AS lead3
  FROM base
),
counts AS (
  SELECT source, lead3, CAST(count(*) AS BIGINT) AS c
  FROM sized WHERE lead3 IS NOT NULL
  GROUP BY source, lead3
),
maxc AS (SELECT source, max(c) AS max_c FROM counts GROUP BY source),
arg AS (
  SELECT c.source, min(c.lead3) AS bp_lead3, max(c.max_c) AS bp_count
  FROM (SELECT co.*, m.max_c FROM counts co JOIN maxc m USING (source)
        WHERE co.c = m.max_c) c
  GROUP BY c.source
)
SELECT s.doc_id, s.source, s.n_words,
       a.bp_lead3 AS source_boilerplate,
       a.bp_count AS boilerplate_docs,
       coalesce(s.lead3 = a.bp_lead3
                AND a.bp_count >= {BOILERPLATE_MIN_DOCS}, false)
         AS has_boilerplate,
       CAST(CASE WHEN coalesce(s.lead3 = a.bp_lead3
                               AND a.bp_count >= {BOILERPLATE_MIN_DOCS},
                               false)
                 THEN s.n_words - 3 ELSE s.n_words END AS BIGINT)
         AS stripped_n_words
FROM sized s LEFT JOIN arg a USING (source)
ORDER BY s.doc_id"""


# --- Tokenizer roundtrip certification ----------------------------------------
# The lossless-ness contract every tokenizer must hold: decoding the
# trained BPE segmentation of every vocabulary word (concatenate the
# symbols, strip the end-of-word marker) reproduces the word exactly.
# Emitted as a per-word boolean + corpus rollup the oracle pins to
# literal true — a merge-table regression (e.g. a corrupt merge or a
# marker collision) breaks the hash gate.
#
# Scale shape: vocabulary-grain only (the |vocab|-row states table);
# the corpus is never touched beyond BPE training's own word counts.

def q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import BPE_EOW, _bpe_syms, _bpe_train_states
    _, states = _bpe_train_states(spark, sf_dir)
    decoded = F.expr(
        f"rtrim('{BPE_EOW}', concat_ws('', "
        "filter(split(state, '  '), x -> x != '')))")
    per_word = states.select(
        "word",
        F.size(_bpe_syms(F.col("state"))).cast("bigint").alias("n_syms"),
        (decoded == F.col("word")).alias("ok"))
    return (per_word.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
                F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint")
                 .alias("n_roundtrip_ok"),
                F.min("ok").alias("all_roundtrip_ok"),
                F.sum("n_syms").cast("bigint").alias("n_total_syms"))
            .select("n_vocab", "n_roundtrip_ok", "all_roundtrip_ok",
                    "n_total_syms"))


def sql_bpe_roundtrip() -> str:
    from .text import BPE_MERGES, _sql_bpe_ctes
    return f"""{_sql_bpe_ctes()},
per_word AS (
  SELECT word,
         CAST(len(list_filter(string_split(state, '  '), x -> x <> ''))
              AS BIGINT) AS n_syms
  FROM state{BPE_MERGES}
)
SELECT CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(count(*) AS BIGINT) AS n_roundtrip_ok,
       true AS all_roundtrip_ok,
       CAST(sum(n_syms) AS BIGINT) AS n_total_syms
FROM per_word"""


# --- Learnability-gap sampling (RHO-style two-model selection) ----------------
# RHO-loss-style data selection (Mindermann et al. 2022) with the repo's
# own LM ladder as the two scorers: docs where the BIGRAM model explains
# the text far better than the UNIGRAM model carry learnable sequential
# structure (vs. bag-of-words noise) — those are the documents worth
# training on first.  gain = unigram bits/token - bigram bits/bigram,
# in exact micro-bits; the keep flag is the above-corpus-mean integer
# cross-multiply (the sample_dsir convention).
#
# Scale shape: both models are vocabulary-grain broadcast tables
# (micro-bit convention of text_bigram_lm); two corpus passes, exact
# BIGINT doc sums, no windows.

def q_sample_learnability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _doc_bigrams
    toks = tokens_df(spark, sf_dir)
    total = toks.count()
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_word"))
    uni_model = freq.select(
        "word",
        F.floor(F.lit(-1e6) * F.log2(
            F.col("n_word").cast("double") / F.lit(float(total))))
         .cast("bigint").alias("ubits"))
    uni = (toks.join(F.broadcast(uni_model), "word")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                    F.sum("ubits").alias("usum")))
    vsize = toks.select("word").distinct().count()
    bg = _doc_bigrams(spark, sf_dir)
    c1 = toks.groupBy(F.col("word").alias("w1")).agg(
        F.count(F.lit(1)).alias("c1"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    bi_model = (c12.join(F.broadcast(c1), "w1")
                   .select("w1", "w2",
                           F.floor(F.lit(-1e6) * F.log2(
                               (F.col("c12") + F.lit(1.0))
                               / (F.col("c1") + F.lit(float(vsize)))))
                            .cast("bigint").alias("bbits")))
    bi = (bg.join(F.broadcast(bi_model), ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.sum("bbits").alias("bsum")))
    scored = (uni.join(bi, "doc_id")
                 .select("doc_id", "n_tokens", "n_bigrams",
                         F.expr("usum div n_tokens")
                          .alias("uni_bits_micro"),
                         F.expr("bsum div n_bigrams")
                          .alias("bi_bits_micro"))
                 .withColumn("gain_micro",
                             F.col("uni_bits_micro")
                             - F.col("bi_bits_micro")))
    tot = scored.agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("gain_micro").alias("sum_gain"))
    return (scored.crossJoin(F.broadcast(tot))
                  .withColumn("selected",
                              F.col("gain_micro") * F.col("n_docs")
                              > F.col("sum_gain"))
                  .drop("n_docs", "sum_gain")
                  .orderBy("doc_id"))


def sql_sample_learnability() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
total AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM tokens),
vstat AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM tokens),
freq AS (SELECT word, count(*) AS n_word FROM tokens GROUP BY word),
uni_model AS (
  SELECT f.word,
         CAST(floor(-1000000.0 *
                    log2(CAST(f.n_word AS DOUBLE) / total.n_total))
              AS BIGINT) AS ubits
  FROM freq f CROSS JOIN total
),
uni AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(m.ubits) AS BIGINT) AS usum
  FROM tokens t JOIN uni_model m USING (word)
  GROUP BY t.doc_id
),
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM toks WHERE len(ws) > 1)
),
c1 AS (SELECT word AS w1, count(*) AS c1 FROM tokens GROUP BY word),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
bi_model AS (
  SELECT m.w1, m.w2,
         CAST(floor(-1000000.0 * log2((m.c12 + 1.0) / (u.c1 + s.v)))
              AS BIGINT) AS bbits
  FROM c12 m JOIN c1 u USING (w1) CROSS JOIN vstat s
),
bi AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(m.bbits) AS BIGINT) AS bsum
  FROM bg b JOIN bi_model m USING (w1, w2)
  GROUP BY b.doc_id
),
scored AS (
  SELECT u.doc_id, u.n_tokens, b.n_bigrams,
         CAST(u.usum // u.n_tokens AS BIGINT) AS uni_bits_micro,
         CAST(b.bsum // b.n_bigrams AS BIGINT) AS bi_bits_micro,
         CAST(u.usum // u.n_tokens AS BIGINT)
           - CAST(b.bsum // b.n_bigrams AS BIGINT) AS gain_micro
  FROM uni u JOIN bi b USING (doc_id)
),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(gain_micro) AS BIGINT) AS sum_gain
  FROM scored
)
SELECT doc_id, n_tokens, n_bigrams, uni_bits_micro, bi_bits_micro,
       gain_micro,
       gain_micro * n_docs > sum_gain AS selected
FROM scored CROSS JOIN corpus
ORDER BY doc_id"""


# --- Temporal train/test split with embargo ----------------------------------
# Forecast/recsys training data must be split by TIME, not by hash — and
# with an EMBARGO gap so near-boundary leakage (a user's test behavior
# bleeding into late train rows via windowed features) cannot occur
# (the purged/embargoed split of de Prado 2018).  This op both performs
# the split accounting and certifies the residual risk: per event type
# it reports the train/embargo/test row counts and how many users
# appear on BOTH sides of the gap (the population whose windowed
# features still need care).
#
# Exactness: pure integer epoch-ns compares and counts.  Scale shape:
# one pass to (type, user) grain (map-side combined), then a bounded
# per-type re-aggregate — the certificate never re-scans the fact.

EMBARGO_TRAIN_END_NS = 1_705_708_800 * 1_000_000_000   # 2024-01-20 UTC
EMBARGO_TEST_START_NS = 1_705_881_600 * 1_000_000_000  # 2024-01-22 UTC


def q_sample_time_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import domain
    e = domain.load_table(spark, sf_dir, "events")
    flags = e.select(
        "event_type", "user_id",
        F.expr(f"CASE WHEN ts < {EMBARGO_TRAIN_END_NS} THEN 1 ELSE 0 END")
         .alias("in_train"),
        F.expr(f"CASE WHEN ts >= {EMBARGO_TRAIN_END_NS} "
               f"AND ts < {EMBARGO_TEST_START_NS} THEN 1 ELSE 0 END")
         .alias("in_embargo"),
        F.expr(f"CASE WHEN ts >= {EMBARGO_TEST_START_NS} THEN 1 ELSE 0 END")
         .alias("in_test"))
    per_user = (flags.groupBy("event_type", "user_id")
                     .agg(F.sum("in_train").alias("n_tr"),
                          F.sum("in_embargo").alias("n_em"),
                          F.sum("in_test").alias("n_te")))
    return (per_user.groupBy("event_type")
        .agg(F.sum("n_tr").cast("bigint").alias("n_train"),
             F.sum("n_em").cast("bigint").alias("n_embargo"),
             F.sum("n_te").cast("bigint").alias("n_test"),
             F.expr("CAST(sum(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) "
                    "AS BIGINT)").alias("n_train_users"),
             F.expr("CAST(sum(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) "
                    "AS BIGINT)").alias("n_test_users"),
             F.expr("CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 "
                    "THEN 1 ELSE 0 END) AS BIGINT)")
              .alias("n_overlap_users"))
        .orderBy("event_type"))


def sql_sample_time_embargo() -> str:
    return f"""
WITH flags AS (
  SELECT event_type, user_id,
         CASE WHEN epoch_ns(ts) < {EMBARGO_TRAIN_END_NS}
              THEN 1 ELSE 0 END AS in_train,
         CASE WHEN epoch_ns(ts) >= {EMBARGO_TRAIN_END_NS}
              AND epoch_ns(ts) < {EMBARGO_TEST_START_NS}
              THEN 1 ELSE 0 END AS in_embargo,
         CASE WHEN epoch_ns(ts) >= {EMBARGO_TEST_START_NS}
              THEN 1 ELSE 0 END AS in_test
  FROM events
),
per_user AS (
  SELECT event_type, user_id,
         sum(in_train) AS n_tr, sum(in_embargo) AS n_em,
         sum(in_test) AS n_te
  FROM flags GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(sum(n_tr) AS BIGINT) AS n_train,
       CAST(sum(n_em) AS BIGINT) AS n_embargo,
       CAST(sum(n_te) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train_users,
       CAST(sum(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test_users,
       CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap_users
FROM per_user
GROUP BY event_type
ORDER BY event_type"""


# --- Zipf slope of the corpus rank-frequency curve ----------------------------
# A natural corpus follows freq ~ rank^(-s) with s ~ 1; templated,
# synthetic-collapse, or boilerplate-heavy corpora bend the curve (the
# distinct-n-gram detector's frequency-domain sibling).  Least-squares
# slope of ln(freq) on ln(rank) over the vocabulary: both logs are
# micro-nat integers computed ONCE per vocabulary-grain row (the
# text_nb_confusion device), all regression sums are exact
# DECIMAL(38,0) integer products, and the final slope is one signed
# ppm quotient (Spark div == DuckDB // — both truncate).
#
# Scale shape: the vocabulary aggregate is map-side combined; ranking
# the vocab table uses the banded device (band = count magnitude), so
# no single-partition sort even at a 100 M-word vocabulary; the
# regression is one 1-row aggregate.

def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    from .text import tokens_df
    vocab = (tokens_df(spark, sf_dir)
             .groupBy("word")
             .agg(F.count(F.lit(1)).cast("long").alias("freq")))
    ranked = banded_rank(
        vocab, [], band=F.expr("freq div 10"),
        order_cols=[F.col("freq").desc(), F.col("word").asc()],
        rank_name="rnk", descending_bands=True)
    pts = ranked.select(
        F.expr("CAST(floor(1000000 * ln(CAST(rnk AS DOUBLE))) AS BIGINT)")
         .alias("x"),
        F.expr("CAST(floor(1000000 * ln(CAST(freq AS DOUBLE))) AS BIGINT)")
         .alias("y"))
    dec = "DECIMAL(38,0)"
    sums = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.expr(f"CAST(sum(CAST(x AS {dec}) * y) AS {dec})").alias("sxy"),
        F.expr(f"CAST(sum(CAST(x AS {dec}) * x) AS {dec})").alias("sxx"))
    return sums.select(
        F.col("n").alias("n_vocab"),
        F.expr(f"CAST((CAST(n AS {dec}) * sxy - CAST(sx AS {dec}) * sy) "
               f"* 1000000 div (CAST(n AS {dec}) * sxx "
               f"- CAST(sx AS {dec}) * sx) AS BIGINT)").alias("slope_ppm"))


def sql_text_zipf_fit() -> str:
    from .text import TOKENS_CTE
    return f"""
WITH {TOKENS_CTE.strip()},
vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM tokens GROUP BY word
),
ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, word ASC) AS rnk
  FROM vocab
),
pts AS (
  SELECT CAST(floor(1000000 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
         CAST(floor(1000000 * ln(CAST(freq AS DOUBLE))) AS BIGINT) AS y
  FROM ranked
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM pts
)
SELECT n AS n_vocab,
       CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
            * 1000000 // (CAST(n AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx) AS BIGINT)
         AS slope_ppm
FROM sums"""


# --- Neyman-allocated stratified sampling plan (round 7) ------------------------
# The survey-sampling classic applied to corpus curation: given a total
# annotation/eval budget M, allocate per-stratum sample sizes
# n_h ∝ N_h * S_h (Neyman 1934) so high-variance strata get more budget.
# Strata are the event types; the value is exact cents.  Everything is
# integer except ONE sqrt per stratum cell (|strata| rows, bounded):
# N_h * sigma_h = sqrt(N_h*Σx² − (Σx)²) exactly, and sqrt is a
# correctly-rounded IEEE op, so floor(sqrt(double(V_h))) is bit-identical
# across engines even when V_h exceeds 2^53 (both engines round the same
# integer to the same double first).  Integer allocation uses the
# largest-remainder method with a deterministic stratum-name tie-break,
# ranked by a bounded |strata|² broadcast self-join — no window, no sort.

from .. import domain as _domain

NEYMAN_BUDGET = 1000


def q_sample_stratified_neyman(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    dec = "DECIMAL(38,0)"
    st = (_domain.load_table(spark, sf_dir, "events")
          .select("event_type",
                  F.expr("CAST(floor(value * 100) AS BIGINT)").alias("x")))
    agg = (st.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                  F.sum("x").cast("bigint").alias("sx"),
                  F.expr(f"CAST(sum(CAST(x AS {dec}) * x) AS {dec})")
                   .alias("sx2")))
    # w_h = N_h * sigma_h = floor(sqrt(N*Σx² − (Σx)²)) — one sqrt per
    # bounded stratum cell
    w = agg.select(
        "event_type", "n_rows",
        F.expr(f"CAST(floor(sqrt(CAST(CAST(n_rows AS {dec}) * sx2"
               f" - CAST(sx AS {dec}) * sx AS DOUBLE))) AS BIGINT)")
         .alias("w"))
    tw_row = w.agg(F.expr("CAST(greatest(sum(w), 1) AS BIGINT)")
                    .alias("tw"))
    based = (w.crossJoin(F.broadcast(tw_row))
              .withColumn("base_n", F.expr(
                  f"CAST(CAST({NEYMAN_BUDGET} AS {dec}) * w div tw"
                  " AS BIGINT)"))
              .withColumn("rem", F.expr(
                  f"CAST(CAST({NEYMAN_BUDGET} AS {dec}) * w"
                  f" - CAST(base_n AS {dec}) * tw AS {dec})")))
    left_row = based.agg(
        F.expr(f"CAST({NEYMAN_BUDGET} - sum(base_n) AS BIGINT)")
         .alias("leftover"))
    # largest-remainder rank via bounded |strata|² broadcast self-join
    other = based.select(F.col("event_type").alias("o_type"),
                         F.col("rem").alias("o_rem"))
    rank = (based.join(F.broadcast(other),
                       F.expr("(o_rem > rem) OR"
                              " (o_rem = rem AND o_type < event_type)"),
                       "left")
                 .groupBy("event_type", "n_rows", "w", "base_n")
                 .agg(F.count("o_type").cast("bigint").alias("rnk")))
    return (rank.crossJoin(F.broadcast(left_row))
                .select("event_type", "n_rows",
                        F.col("w").alias("sd_scaled"),
                        F.expr("CAST(base_n + CASE WHEN rnk < leftover"
                               " THEN 1 ELSE 0 END AS BIGINT)")
                         .alias("alloc_n"))
                .withColumn("sampling_ppm", F.expr(
                    "CAST(alloc_n * 1000000 div n_rows AS BIGINT)"))
                .orderBy("event_type"))


def sql_sample_stratified_neyman() -> str:
    return f"""
WITH st AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS x FROM events
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(x) AS BIGINT) AS sx,
         sum(CAST(x AS HUGEINT) * x) AS sx2
  FROM st GROUP BY 1
),
w AS (
  SELECT event_type, n_rows,
         CAST(floor(sqrt(CAST(CAST(n_rows AS HUGEINT) * sx2
                              - CAST(sx AS HUGEINT) * sx AS DOUBLE)))
              AS BIGINT) AS w
  FROM agg
),
tw AS (SELECT CAST(greatest(sum(w), 1) AS BIGINT) AS tw FROM w),
based AS (
  SELECT w.event_type, w.n_rows, w.w,
         CAST(CAST({NEYMAN_BUDGET} AS HUGEINT) * w.w // tw.tw AS BIGINT)
           AS base_n,
         CAST({NEYMAN_BUDGET} AS HUGEINT) * w.w
           - (CAST(CAST({NEYMAN_BUDGET} AS HUGEINT) * w.w // tw.tw
                   AS HUGEINT)) * tw.tw AS rem
  FROM w, tw
),
lo AS (SELECT CAST({NEYMAN_BUDGET} - sum(base_n) AS BIGINT)
         AS leftover FROM based),
rnk AS (
  SELECT b.event_type, b.n_rows, b.w, b.base_n,
         CAST(count(o.event_type) AS BIGINT) AS rnk
  FROM based b LEFT JOIN based o
    ON (o.rem > b.rem) OR (o.rem = b.rem AND o.event_type < b.event_type)
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, n_rows, w AS sd_scaled,
       CAST(base_n + CASE WHEN rnk < lo.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_n,
       CAST((base_n + CASE WHEN rnk < lo.leftover THEN 1 ELSE 0 END)
            * 1000000 // n_rows AS BIGINT) AS sampling_ppm
FROM rnk, lo
ORDER BY event_type"""


# --- Temperature-based source mixing with exact largest-remainder allocation ------
# (round 8)  The mT5/multilingual-pretraining sampler: source sampling
# weights proportional to n_docs^alpha flatten the natural source
# imbalance (alpha = 1 keeps it; alpha -> 0 is uniform).  alpha is
# PINNED at 1/2 so the power is sqrt — the one power function IEEE-754
# requires correctly rounded, hence bit-identical across the JVM and
# C runtimes (pow(x, 0.3) carries no such guarantee; the repo's
# round-once rule would not hold).  The TEMP_BUDGET document quota is
# then apportioned by the exact largest-remainder (Hamilton) method on
# BIGINTs: floor quotas + one extra doc to the largest integer
# remainders, ties broken by source name — sum(alloc) == TEMP_BUDGET
# exactly (asserted in tests).
#
# Scale shape: one map-side-combined count per source, then pure
# arithmetic on the |sources|-row frame; the remainder rank is a
# bounded |sources|^2 self-join count, not a window (no constant-key
# partition anywhere).

TEMP_BUDGET = 100_000


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    src = (d.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    w = src.select(
        "source", "n_docs",
        F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)"
               " AS BIGINT)").alias("weight_micro"))
    tot = w.agg(F.sum("weight_micro").cast("bigint").alias("tw"))
    dec = "DECIMAL(38,0)"
    base = (w.crossJoin(F.broadcast(tot))
             .select("source", "n_docs", "weight_micro", "tw",
                     F.expr(f"CAST(CAST({TEMP_BUDGET} AS {dec})"
                            f" * weight_micro div tw AS BIGINT)")
                      .alias("base_alloc"),
                     F.expr(f"CAST(CAST({TEMP_BUDGET} AS {dec})"
                            f" * weight_micro % tw AS BIGINT)")
                      .alias("rem")))
    left = base.agg(
        F.expr(f"CAST({TEMP_BUDGET} - sum(base_alloc) AS BIGINT)")
         .alias("leftover"))
    other = base.select(F.col("source").alias("o_source"),
                        F.col("rem").alias("o_rem"))
    rnk = (base.join(other, F.expr(
               "o_rem > rem OR (o_rem = rem AND o_source < source)"),
               "left")
               .groupBy("source", "n_docs", "weight_micro", "tw",
                        "base_alloc", "rem")
               .agg((F.count("o_source") + 1).cast("bigint")
                     .alias("rnk")))
    return (rnk.crossJoin(F.broadcast(left))
               .select("source", "n_docs", "weight_micro",
                       F.expr("CAST(weight_micro * 1000000 div tw"
                              " AS BIGINT)").alias("share_ppm"),
                       F.expr("CAST(base_alloc + CASE WHEN rnk <= leftover"
                              " THEN 1 ELSE 0 END AS BIGINT)")
                        .alias("alloc"))
               .orderBy("source"))


def sql_sample_temperature() -> str:
    return f"""
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
           AS weight_micro
  FROM src
),
tot AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS tw FROM w),
base AS (
  SELECT source, n_docs, weight_micro, tw,
         CAST(CAST({TEMP_BUDGET} AS HUGEINT) * weight_micro // tw
              AS BIGINT) AS base_alloc,
         CAST(CAST({TEMP_BUDGET} AS HUGEINT) * weight_micro % tw
              AS BIGINT) AS rem
  FROM w, tot
),
lft AS (SELECT CAST({TEMP_BUDGET} - sum(base_alloc) AS BIGINT)
          AS leftover FROM base),
rnk AS (
  SELECT b.source, b.n_docs, b.weight_micro, b.tw, b.base_alloc,
         CAST(1 + count(o.source) AS BIGINT) AS rnk
  FROM base b LEFT JOIN base o
    ON o.rem > b.rem OR (o.rem = b.rem AND o.source < b.source)
  GROUP BY 1, 2, 3, 4, 5
)
SELECT source, n_docs, weight_micro,
       CAST(weight_micro * 1000000 // tw AS BIGINT) AS share_ppm,
       CAST(base_alloc + CASE WHEN rnk <= lft.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM rnk, lft
ORDER BY source"""
