"""Mechanically split from plans/llm.py (round 9) — segment contents are verbatim; see package __init__."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ...session import local_frame
from ...sources.files import load_table
from ._shared import (
    _STOPWORDS,
    _kn_bigram_lm,
)


def q18_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics (north star: quality scoring —
    length / punctuation / stopword ratios). Narrow projection, no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", ""))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x)))
    return docs.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        n_words.alias("n_words"),
        F.round(n_alpha / n_words, 4).alias("avg_word_len"),
        F.round(n_stop / n_words, 4).alias("stopword_ratio"),
        F.round(
            F.least(n_words / F.lit(100.0), F.lit(1.0)) * (1 - n_stop / n_words), 4
        ).alias("quality_score"),
    ).orderBy("doc_id")


_Q18_SQL = f"""
WITH base AS (
  SELECT doc_id, length(text) AS len_chars,
         len(string_split(text, ' ')) AS n_words,
         length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alpha,
         len(list_filter(string_split(text, ' '),
             x -> list_contains({_STOPWORDS!r}, x))) AS n_stop
  FROM documents
)
SELECT doc_id, len_chars, n_words,
       round(n_alpha / n_words, 4)  AS avg_word_len,
       round(n_stop / n_words, 4)   AS stopword_ratio,
       round(least(n_words / 100.0, 1.0) * (1 - n_stop / n_words), 4) AS quality_score
FROM base
ORDER BY doc_id
"""


def q19_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north star): whitespace tokens + a BPE-ish regex
    tokenizer (letter runs / digit runs / single punctuation)."""
    docs = load_table(spark, sf_dir, "documents")
    bpe_pattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), "\\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(bpe_pattern), 0)).alias(
            "bpe_tokens"
        ),
        F.size(F.array_distinct(F.split(F.lower("text"), "\\s+"))).alias(
            "distinct_words"
        ),
    ).orderBy("doc_id")


_Q19_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(text, '\s+'))    AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens,
       len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS distinct_words
FROM documents
ORDER BY doc_id
"""


def q20_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language/source profile (grouped agg over document metadata);
    the heuristic n-gram language IDENTIFIER (non-SQL-portable) is in
    operators/text.py with unit tests."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            # Unrounded exact division of an exact integer sum: identical
            # doubles in every engine. round(avg, 2) is the trap — Spark
            # rounds the shortest decimal repr, DuckDB the binary value.
            (F.sum("n_chars") / F.count("n_chars")).alias("avg_chars"),
            # total as exact integer — dividing an int sum by 1000 then
            # rounding lands exactly on .xx5 boundaries where Spark
            # (decimal-string HALF_UP) and DuckDB (binary-double) disagree.
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


_Q20_SQL = """
SELECT lang,
       count(*)                       AS n_docs,
       count(DISTINCT source)         AS n_sources,
       CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_chars,
       CAST(sum(n_chars) AS BIGINT)   AS total_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


def q29_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial-NB language ID (north star text analysis): fit per-lang
    token profiles on the labeled corpus, predict per doc. VALUE-checked:
    both NB phases are relational (counts → log weights → matched-sum
    argmax), so the oracle replays them in SQL (_Q29_SQL); the score is
    rounded to 4 decimals in both engines — the matched-weight sum is the
    one place aggregation ORDER could perturb the last float bits.
    Accuracy-vs-labels asserted in tests/test_text.py."""
    from ...operators.text import fit_lang_profiles, predict_lang

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    profiles = fit_lang_profiles(docs)
    out = predict_lang(docs, profiles)
    return out.select(
        "doc_id", "pred_lang", F.round("score", 4).alias("score"), "n_matched"
    ).orderBy("doc_id")


_Q29_SQL = r"""
WITH grams AS (
  SELECT * FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), counts AS (
  SELECT lang, tok, count(*) AS cnt FROM grams GROUP BY lang, tok
), totals AS (
  SELECT lang, sum(cnt) AS total FROM counts GROUP BY lang
), profiles AS (
  -- top_m=500 tokens per lang, weight = ln P(tok|lang)
  SELECT c.lang, c.tok, ln(c.cnt / t.total) AS weight
  FROM (
    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rn
    FROM counts
  ) c JOIN totals t ON t.lang = c.lang
  WHERE c.rn <= 500
), doc_sizes AS (
  SELECT d.doc_id, coalesce(g.n, 0) AS n_tokens
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id) g
    USING (doc_id)
), scored AS (
  SELECT g.doc_id, p.lang,
         sum(p.weight) AS matched_weight, count(*) AS n_matched
  FROM grams g JOIN profiles p ON p.tok = g.tok
  GROUP BY g.doc_id, p.lang
), best AS (
  SELECT doc_id, lang AS pred_lang, score, n_matched FROM (
    SELECT s.doc_id, s.lang, s.n_matched,
           s.matched_weight + (ds.n_tokens - s.n_matched) * (-18.0) AS score,
           row_number() OVER (
             PARTITION BY s.doc_id
             ORDER BY s.matched_weight + (ds.n_tokens - s.n_matched) * (-18.0) DESC,
                      s.lang
           ) AS rn
    FROM scored s JOIN doc_sizes ds USING (doc_id)
  ) WHERE rn = 1
)
SELECT ds.doc_id, b.pred_lang,
       round(coalesce(b.score, ds.n_tokens * (-18.0)), 4) AS score,
       coalesce(b.n_matched, 0) AS n_matched
FROM doc_sizes ds LEFT JOIN best b USING (doc_id)
ORDER BY ds.doc_id
"""


def q43_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary builder (tokenizer-training input): BPE-ish token
    frequencies + document frequencies, top 200. One explode + one grouped
    aggregate — the shuffle key (token) is capped by the top-K, and the
    count/count-distinct partials combine map-side."""
    docs = load_table(spark, sf_dir, "documents")
    bpe_pattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(bpe_pattern), 0)).alias(
            "token"
        ),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(200)
    )


_Q43_SQL = r"""
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS token
  FROM documents
)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 200
"""


def q45_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (corpus quality): type-token ratio,
    top-token and top-bigram fractions per doc — the signals that drop
    templated/spam mass before LLM training.

    The presentation sort sits BELOW the heavy per-doc projection (r10):
    a global orderBy directly above an expensive non-reduced projection
    executes that projection TWICE — range-exchange sampling runs the
    child once to pick bounds, the shuffle runs it again — which doubled
    this query's cost (measured 2.8 s -> 1.29 s at sf0.1). Sorting the
    slim (doc_id, text) input instead samples only the scan; the
    order-preserving projection then runs once and the output rows are
    byte-identical, order included. At 100 TB the sort is presentation
    only (the correctness hash is order-insensitive) and would be
    dropped outright."""
    from ...operators.text import repetition_metrics

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs.orderBy("doc_id"))


_Q45_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), toks AS (
  SELECT doc_id, unnest(w) AS tok FROM w
), t AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct, max(c) AS top_cnt
  FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
  GROUP BY doc_id
), bi AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bi_cnt
  FROM (
    SELECT doc_id, bigram, count(*) AS c FROM (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS bigram
      FROM w
    ) GROUP BY 1, 2
  ) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_tokens, 0) AS n_tokens,
       round(t.n_distinct / t.n_tokens, 4) AS type_token_ratio,
       round(t.top_cnt / t.n_tokens, 4) AS top_token_frac,
       round(bi.top_bi_cnt / bi.n_bigrams, 4) AS top_bigram_frac
FROM documents d
LEFT JOIN t USING (doc_id)
LEFT JOIN bi USING (doc_id)
ORDER BY doc_id
"""


def q46_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-distribution Shannon entropy + 0-1 uniformity score
    (corpus quality: low entropy = templated text)."""
    from ...operators.text import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs).orderBy("doc_id")


_Q46_SQL = r"""
WITH counts AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct,
         sum(c * ln(c)) AS clnc
  FROM counts GROUP BY doc_id
)
SELECT doc_id,
       round(ln(n) - clnc / n, 4) AS entropy,
       round(CASE WHEN n_distinct > 1
                  THEN (ln(n) - clnc / n) / ln(n_distinct)
                  ELSE 0.0 END, 4) AS entropy_norm
FROM agg
ORDER BY doc_id
"""


def q49_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: average log-probability of each doc's
    tokens under the CORPUS unigram distribution — outlier docs (gibberish,
    wrong-language, boilerplate) score far from the bulk and get cut by a
    percentile threshold downstream.

    Shape at 100 TB: the unigram model is one grouped count (skew-free
    token key), broadcast back into a per-doc average — same
    broadcast-model-scan shape as NB lang-ID (q29). Unseen tokens can't
    occur (the model is fit on the same corpus); a held-out variant would
    add the q29 floor term."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    total = toks.count()
    model = toks.groupBy("tok").agg(
        F.log(F.count("*") / F.lit(float(total))).alias("logp")
    )
    return (
        toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


_Q49_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), model AS (
  SELECT tok, ln(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM toks)) AS logp
  FROM toks GROUP BY tok
)
SELECT t.doc_id, count(*) AS n_tokens, round(avg(m.logp), 4) AS avg_logprob
FROM toks t JOIN model m USING (tok)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


def q52_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (operators/text.redact_pii): emails, NANP phones,
    IPv4s replaced with typed tokens, per-pattern match counts. The word-
    salad corpus carries no real PII, so the query SEEDS a deterministic
    email/phone/IP triple per doc (built from doc_id, identically in the
    oracle) — the value check then genuinely exercises the regex engines:
    any Java-vs-RE2 semantic drift in the patterns breaks the hash.

    Presentation sort below the regex projection (r10, same reasoning
    as q45): range-exchange sampling executes its child twice, and the
    three-regex redaction pass is the expensive part — sorting the slim
    input first halves the cost (1.65 s -> 0.86 s at sf0.1) with
    byte-identical output."""
    from ...operators.text import redact_pii

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            s(F.col("doc_id")),
            F.lit("@example.com call 555-"),
            F.lpad(s(F.col("doc_id") % 900 + 100), 3, "0"),
            F.lit("-"),
            F.lpad(s(F.col("doc_id") % 10000), 4, "0"),
            F.lit(" from 10."),
            s(F.col("doc_id") % 256),
            F.lit(".0."),
            s(F.col("doc_id") % 100 + 1),
        ).alias("text"),
    )
    return redact_pii(seeded)


def _q52_sql() -> str:
    from ...operators.text import PII_PATTERNS

    email, phone, ipv4 = (
        PII_PATTERNS["email"],
        PII_PATTERNS["phone"],
        PII_PATTERNS["ipv4"],
    )
    return f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com call 555-'
              || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100 + 1)
           AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         text, '{email}', '<EMAIL>', 'g'),
               '{phone}', '<PHONE>', 'g'),
               '{ipv4}', '<IP>', 'g') AS text_clean,
       len(regexp_extract_all(text, '{email}')) AS n_email,
       len(regexp_extract_all(text, '{phone}')) AS n_phone,
       len(regexp_extract_all(text, '{ipv4}')) AS n_ipv4
FROM seeded
ORDER BY doc_id
"""


def q54_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-30 word bigrams with occurrence + doc frequencies
    (operators/text.top_ngrams) — the before/after curation stat that
    surfaces over-represented boilerplate heads."""
    from ...operators.text import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=30)


_Q54_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
  FROM w
)
SELECT gram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM grams
GROUP BY gram
ORDER BY n_occurrences DESC, gram
LIMIT 30
"""


def q58_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (north star: heuristic corpus
    filtering — Rae et al. 2021's repetition/length/stopword rules): per
    doc, named boolean flags + the combined keep decision. One explode +
    two grouped aggregations (the scale-right shape for distinct-word
    stats — see the HOF-vs-explode note in operators/dedup.py); thresholds
    sit on exact integer-ratio doubles so the decision is engine-portable
    bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    d = g.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("max_c"),
        F.sum(F.length("word") * F.col("c")).alias("sum_len"),
        F.sum(
            F.when(F.col("word").isin(_STOPWORDS), F.col("c")).otherwise(0)
        ).alias("n_stop"),
    )
    mean_len = F.col("sum_len") / F.col("n_words")
    top_ratio = F.col("max_c") / F.col("n_words")
    dup_ratio = F.lit(1) - F.col("n_distinct") / F.col("n_words")
    flags = {
        "flag_word_count": F.col("n_words") >= 30,
        "flag_word_len": (mean_len >= 3) & (mean_len <= 10),
        "flag_top_word": top_ratio <= 0.12,
        "flag_dup_words": dup_ratio <= 0.6,
        "flag_stopwords": F.col("n_stop") >= 2,
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & c
    return d.select(
        "doc_id",
        "n_words",
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(top_ratio, 4).alias("top_word_ratio"),
        F.round(dup_ratio, 4).alias("dup_word_ratio"),
        "n_stop",
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    ).orderBy("doc_id")


_Q58_SQL = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), g AS (
  SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word
), d AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         count(*) AS n_distinct,
         max(c) AS max_c,
         CAST(sum(length(word) * c) AS BIGINT) AS sum_len,
         CAST(coalesce(sum(c) FILTER (
           WHERE list_contains({_STOPWORDS!r}, word)), 0) AS BIGINT) AS n_stop
  FROM g GROUP BY doc_id
)
SELECT doc_id, n_words,
       round(sum_len / n_words, 4) AS mean_word_len,
       round(max_c / n_words, 4) AS top_word_ratio,
       round(1 - n_distinct / n_words, 4) AS dup_word_ratio,
       n_stop,
       n_words >= 30 AS flag_word_count,
       sum_len / n_words >= 3 AND sum_len / n_words <= 10 AS flag_word_len,
       max_c / n_words <= 0.12 AS flag_top_word,
       1 - n_distinct / n_words <= 0.6 AS flag_dup_words,
       n_stop >= 2 AS flag_stopwords,
       (n_words >= 30 AND sum_len / n_words >= 3 AND sum_len / n_words <= 10
        AND max_c / n_words <= 0.12 AND 1 - n_distinct / n_words <= 0.6
        AND n_stop >= 2) AS keep
FROM d ORDER BY doc_id
"""


def q59_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word co-occurrence PMI over the corpus (north star: collocation /
    phrase mining for tokenizer and n-gram vocabulary decisions). The
    vocabulary is BOUNDED FIRST (top 30 words by document frequency, ties
    lexicographic) and broadcast, so the per-doc pair expansion is capped at
    C(30,2) regardless of corpus size — the same prune-before-pairing
    discipline as the LSH tiers. PMI = ln(P(a,b) / (P(a)·P(b))) over
    document incidence."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    w = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("word"),
    )
    vocab = (
        w.groupBy("word")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "word")
        .limit(30)
    )
    wv = w.join(F.broadcast(vocab), "word").select("doc_id", "word", "df")
    a, b = wv.alias("a"), wv.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(
            F.col("a.word").alias("word_a"),
            F.col("b.word").alias("word_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    return (
        p.select(
            "word_a",
            "word_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab") * F.lit(n_docs) / (F.col("df_a") * F.col("df_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_ab"), "word_a", "word_b")
        .limit(50)
    )


_Q59_SQL = """
WITH w AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  )
), vocab AS (
  SELECT word, count(*) AS df FROM w GROUP BY word
  ORDER BY df DESC, word LIMIT 30
), wv AS (
  SELECT w.doc_id, w.word, v.df FROM w JOIN vocab v USING (word)
), p AS (
  SELECT a.word AS word_a, b.word AS word_b, a.df AS df_a, b.df AS df_b,
         count(*) AS n_ab
  FROM wv a JOIN wv b ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY 1, 2, 3, 4
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
)
SELECT word_a, word_b, n_ab,
       round(ln(n_ab * (SELECT n_docs FROM n) / (df_a * df_b)), 4) AS pmi
FROM p ORDER BY n_ab DESC, word_a, word_b LIMIT 50
"""


def q104_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality-classifier inference (operators/text.
    hashed_linear_score): sigmoid over the mean hashed-bag-of-words
    weight, the fastText-shaped first-tier quality gate. The weight
    "lookup" is an md5 derivation folded into the projection, so the
    oracle replays the entire forward pass — hashing, weight generation,
    mean, sigmoid — in SQL."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    return hashed_linear_score(docs, n_buckets=4096)


_Q104_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), sc AS (
  SELECT doc_id, count(*) AS n_tokens,
         avg(('0x' || substr(md5('qw' ||
               ((('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096))::VARCHAR
             ), 1, 8))::BIGINT / 2147483648.0 - 1.0) AS m
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       round(1.0 / (1.0 + exp(-4.0 * coalesce(s.m, 0.0))), 4) AS score
FROM documents d LEFT JOIN sc s USING (doc_id)
ORDER BY doc_id
"""


def q107_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    doc with the corpus unigram LM (the q49 machinery), then split each
    LANGUAGE into head/middle/tail terciles by per-language exact
    percentile thresholds — the curation move that keeps the best third,
    trains on the middle, and drops the tail. Returns per (lang, bucket):
    doc count and mean score.

    Shape at 100 TB: scoring is the q49 broadcast-model scan; thresholds
    are one |langs|-row exact-percentile aggregate broadcast back into a
    narrow projection — no second scan of the scores, no sort. Bucketing
    compares the ROUNDED score (the q49 output discipline) against
    thresholds interpolated from those same rounded values, which is what
    keeps the cut engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    total = toks.count()
    model = toks.groupBy("tok").agg(
        F.log(F.count("*") / F.lit(float(total))).alias("logp")
    )
    scored = (
        toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id")
        .agg(F.round(F.avg("logp"), 4).alias("score"))
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    thr = scored.groupBy("lang").agg(
        F.percentile("score", 1.0 / 3).alias("t_lo"),
        F.percentile("score", 2.0 / 3).alias("t_hi"),
    )
    bucket = (
        F.when(F.col("score") >= F.col("t_hi"), F.lit("head"))
        .when(F.col("score") >= F.col("t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("lang", "bucket")
    )


_Q107_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), model AS (
  SELECT tok, ln(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM toks)) AS logp
  FROM toks GROUP BY tok
), scored AS (
  SELECT t.doc_id, round(avg(m.logp), 4) AS score
  FROM toks t JOIN model m USING (tok) GROUP BY t.doc_id
), sl AS (
  SELECT s.doc_id, s.score, d.lang
  FROM scored s JOIN documents d USING (doc_id)
), thr AS (
  SELECT lang, quantile_cont(score, 1.0/3) AS t_lo,
               quantile_cont(score, 2.0/3) AS t_hi
  FROM sl GROUP BY lang
)
SELECT sl.lang,
       CASE WHEN sl.score >= thr.t_hi THEN 'head'
            WHEN sl.score >= thr.t_lo THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       round(avg(sl.score), 4) AS avg_score
FROM sl JOIN thr USING (lang)
GROUP BY 1, 2
ORDER BY lang, bucket
"""


def q117_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge scoring (operators/bpe.py) — tokenizer
    training at corpus scale. The corpus collapses to its VOCABULARY
    relation in one word-count pass; adjacent char pairs are counted on
    that vocab weighted by word frequency (subword-nmt's structure), so
    at 100 TB the pair space never sees corpus bytes. Exact integer
    counts end-to-end; the full iterative trainer (argmax → codegen
    merge fold → recount) is pytest-pinned to the Sennrich toy corpus."""
    from ...operators.bpe import bpe_merge_candidates

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_candidates(docs, top_k=20)


_Q117_SQL = """
WITH words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
), vocab AS (
  SELECT w, count(*) AS freq FROM words WHERE len(w) > 0 GROUP BY w
), pairs AS (
  SELECT w, freq, substr(w, i, 1) AS left_sym, substr(w, i + 1, 1) AS right_sym
  FROM (
    SELECT w, freq, unnest(range(1, len(w))) AS i
    FROM vocab WHERE len(w) >= 2
  )
), agg AS (
  SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS n_occurrences,
         count(DISTINCT w) AS n_words
  FROM pairs GROUP BY 1, 2
)
SELECT row_number() OVER (ORDER BY n_occurrences DESC, left_sym, right_sym)
         AS rank,
       left_sym, right_sym, n_occurrences, n_words
FROM agg
ORDER BY n_occurrences DESC, left_sym, right_sym
LIMIT 20
"""


def q119_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet — the "data card" summary a training
    run records next to its checkpoints: volume (docs/chars/tokens),
    exact-duplicate rate, language mix, and the dominant language with
    its share. ONE corpus scan: the first aggregate groups to
    (source, lang, text-hash) — at most one row per distinct document —
    and every datasheet number rolls up from that narrow relation; the
    corpus text never shuffles (only the md5 and three integers do).
    The two ratios are single divisions of exact integers, rounded
    identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.groupBy(
        "source", "lang", F.md5("text").alias("ch")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.size(F.split("text", " "))).alias("toks"),
    )
    per_lang = base.groupBy("source", "lang").agg(
        F.sum("cnt").alias("lang_docs")
    )
    w = W.partitionBy("source").orderBy(F.col("lang_docs").desc(), "lang")
    top = (
        per_lang.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("lang_docs").alias("top_lang_docs"),
        )
    )
    per_source = base.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.countDistinct("ch").alias("n_distinct_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("chars").alias("total_chars"),
        F.sum("toks").alias("total_tokens"),
    )
    return (
        per_source.join(top, "source")
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            F.round(
                (F.col("n_docs") - F.col("n_distinct_texts")).cast("double")
                / F.col("n_docs").cast("double"),
                4,
            ).alias("dup_rate"),
            "n_langs",
            "top_lang",
            "top_lang_docs",
            F.round(
                F.col("top_lang_docs").cast("double")
                / F.col("n_docs").cast("double"),
                4,
            ).alias("top_lang_share"),
            "total_chars",
            "total_tokens",
        )
        .orderBy("source")
    )


_Q119_SQL = """
WITH base AS (
  SELECT source, lang, md5(text) AS ch, count(*) AS cnt,
         CAST(sum(n_chars) AS BIGINT) AS chars,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
  FROM documents GROUP BY 1, 2, 3
), per_lang AS (
  SELECT source, lang, CAST(sum(cnt) AS BIGINT) AS lang_docs
  FROM base GROUP BY 1, 2
), top AS (
  SELECT source, lang AS top_lang, lang_docs AS top_lang_docs FROM (
    SELECT source, lang, lang_docs,
           row_number() OVER (PARTITION BY source
                              ORDER BY lang_docs DESC, lang) AS rn
    FROM per_lang
  ) WHERE rn = 1
), per_source AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
         count(DISTINCT ch) AS n_distinct_texts,
         count(DISTINCT lang) AS n_langs,
         CAST(sum(chars) AS BIGINT) AS total_chars,
         CAST(sum(toks) AS BIGINT) AS total_tokens
  FROM base GROUP BY 1
)
SELECT s.source, n_docs, n_distinct_texts,
       round(CAST(n_docs - n_distinct_texts AS DOUBLE)
             / CAST(n_docs AS DOUBLE), 4) AS dup_rate,
       n_langs, top_lang, top_lang_docs,
       round(CAST(top_lang_docs AS DOUBLE)
             / CAST(n_docs AS DOUBLE), 4) AS top_lang_share,
       total_chars, total_tokens
FROM per_source s JOIN top t ON t.source = s.source
ORDER BY s.source
"""


def q139_exact_heavy_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter bigrams via the two-phase Misra-Gries pattern
    (operators/sketches.exact_heavy_hitters, m=1000): per-partition
    bounded summaries → exact recount of the candidate union — the full
    bigram key space never shuffles, yet the result is EXACT (the MG
    guarantee means no qualifying item can be missing, and the recount
    kills every false candidate). The oracle is the PLAIN
    GROUP BY HAVING cnt·1000 > n — partitioning cannot change the
    answer, which is the whole claim."""
    from ...operators.sketches import exact_heavy_hitters

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # Guarded sequence: sequence(1, 0) in Spark is the DESCENDING [1, 0],
    # not empty, so a 1-word text would index element_at(w, 0) and throw —
    # emit an explicitly empty array for texts with < 2 words instead.
    # split(text) is HOISTED into its own projection (r11, guide §1.2
    # per-task work): inlined it sat inside the transform lambda, where
    # codegen re-evaluates it per lambda call — O(words²) re-splitting
    # per document for byte-identical bigrams.
    bigrams = docs.select(F.split("text", " ").alias("w")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1),"
                " i -> concat_ws(' ', element_at(w, i),"
                " element_at(w, i + 1)))"
                " ELSE CAST(array() AS array<string>) END"
            )
        ).alias("bigram")
    )
    return exact_heavy_hitters(bigrams, "bigram", m=1000)


_Q139_SQL = """
WITH b AS (
  SELECT unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS bigram
  FROM (SELECT string_split(text, ' ') AS w FROM documents)
), n AS (
  SELECT count(*) AS n_total FROM b
)
SELECT bigram, count(*) AS cnt, n.n_total
FROM b CROSS JOIN n
GROUP BY bigram, n.n_total
HAVING count(*) * 1000 > n.n_total
ORDER BY cnt DESC, bigram
"""


def q142_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model evaluation at corpus scale: the q29 NB language-ID
    predictions cross-tabulated against the gold ``lang`` labels — the
    confusion matrix plus per-actual-language recall share. The entire
    prediction pipeline is already SQL-replayable (q29), so the oracle
    composes it and the evaluation itself is two exact rollups + one
    rounded division; a green hash certifies predictions AND the eval
    arithmetic together. This is the pattern for evaluating ANY
    relational model in the engine against labels it trained beside."""
    from ...operators.text import fit_lang_profiles, predict_lang

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    profiles = fit_lang_profiles(docs)
    preds = predict_lang(docs, profiles).select("doc_id", "pred_lang")
    j = preds.join(
        docs.select("doc_id", F.col("lang").alias("actual_lang")), "doc_id"
    )
    totals = j.groupBy("actual_lang").agg(
        F.count("*").alias("actual_total")
    )
    return (
        j.groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .join(totals, "actual_lang")
        .select(
            "actual_lang",
            "pred_lang",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double")
                / F.col("actual_total").cast("double"),
                4,
            ).alias("share_of_actual"),
        )
        .orderBy("actual_lang", "pred_lang")
    )


def _q142_sql() -> str:
    return f"""
WITH preds AS (
  SELECT doc_id, pred_lang FROM ({_Q29_SQL}) q29
), j AS (
  SELECT p.doc_id, p.pred_lang, d.lang AS actual_lang
  FROM preds p JOIN documents d USING (doc_id)
), totals AS (
  SELECT actual_lang, count(*) AS actual_total FROM j GROUP BY actual_lang
)
SELECT j.actual_lang, j.pred_lang, count(*) AS n_docs,
       round(CAST(count(*) AS DOUBLE) / any_value(t.actual_total), 4)
         AS share_of_actual
FROM j JOIN totals t ON t.actual_lang = j.actual_lang
GROUP BY j.actual_lang, j.pred_lang
ORDER BY j.actual_lang, j.pred_lang
"""


def q157_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth audit: per source, the doc/token/vocab
    counts of four NESTED corpus prefixes (quarters by the portable doc
    hash — same subset discipline as q134, so prefix 2 contains prefix 1
    by construction) plus the type-token ratio per prefix. A vocabulary
    that stops growing across prefixes signals templated/duplicated text;
    the curve is the standard corpus-health check before tokenizer
    training.

    Scale shape: no global rank — prefix membership is a pure hash range
    per doc. The word stream shuffles once into the (source, word)
    min-bucket aggregate (map-side combine, vocabulary-sized result);
    each vocab word then expands to at most 4 (source, prefix) rows and
    each doc-level token subtotal to at most 4 — both final aggregates
    are |sources|x4-bounded. TTR is the single rounded division of exact
    integers."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(
        "conv(substr(md5(cast(doc_id AS string)), 1, 8), 16, 10)"
    ).cast("long")
    base = docs.select(
        "source",
        (h % 4).alias("bucket"),
        F.filter(
            F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
        ).alias("_w"),
    )
    # Doc-level subtotals fan out to the prefixes that contain the bucket.
    per_bucket = base.groupBy("source", "bucket").agg(
        F.count("*").alias("docs"), F.sum(F.size("_w")).alias("toks")
    )
    sizes = (
        per_bucket.select(
            "source",
            "docs",
            "toks",
            F.explode(F.sequence(F.col("bucket") + 1, F.lit(4))).alias("p"),
        )
        .groupBy("source", "p")
        .agg(F.sum("docs").alias("n_docs"), F.sum("toks").alias("n_tokens"))
    )
    # A word counts toward every prefix from its FIRST bucket onward.
    first = (
        base.select("source", "bucket", F.explode("_w").alias("word"))
        .groupBy("source", "word")
        .agg(F.min("bucket").alias("b0"))
    )
    vocab = (
        first.select(
            "source",
            F.explode(F.sequence(F.col("b0") + 1, F.lit(4))).alias("p"),
        )
        .groupBy("source", "p")
        .agg(F.count("*").alias("n_vocab"))
    )
    return (
        sizes.join(vocab, ["source", "p"])
        .select(
            "source",
            F.col("p").alias("prefix_quarter"),
            "n_docs",
            "n_tokens",
            "n_vocab",
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("n_vocab").cast("double") / F.col("n_tokens"), 6
                ),
            ).alias("ttr"),
        )
        .orderBy("source", "prefix_quarter")
    )


_Q157_SQL = r"""
WITH base AS (
  SELECT source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4
           AS bucket,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), per_bucket AS (
  SELECT source, bucket, count(*) AS docs, CAST(sum(len(w)) AS BIGINT) AS toks
  FROM base GROUP BY source, bucket
), sizes AS (
  SELECT source, p, CAST(sum(docs) AS BIGINT) AS n_docs,
         CAST(sum(toks) AS BIGINT) AS n_tokens
  FROM (SELECT *, unnest(range(bucket + 1, 5)) AS p FROM per_bucket)
  GROUP BY source, p
), first AS (
  SELECT source, word, min(bucket) AS b0
  FROM (SELECT source, bucket, unnest(w) AS word FROM base)
  GROUP BY source, word
), vocab AS (
  SELECT source, p, count(*) AS n_vocab
  FROM (SELECT source, unnest(range(b0 + 1, 5)) AS p FROM first)
  GROUP BY source, p
)
SELECT s.source, s.p AS prefix_quarter, s.n_docs, s.n_tokens, v.n_vocab,
       CASE WHEN s.n_tokens > 0
            THEN round(CAST(v.n_vocab AS DOUBLE) / s.n_tokens, 6) END AS ttr
FROM sizes s JOIN vocab v ON s.source = v.source AND s.p = v.p
ORDER BY s.source, prefix_quarter
"""


def q198_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Shannon entropy and Pielou evenness of the SOURCE
    mix — the diversity dial a pretraining mix is tuned by (evenness 1
    = sources contribute equally; → 0 = one source dominates the
    language). Per-(lang, source) counts from one scan; each −p·ln p
    term is a single float chain over exact integers QUANTIZED to
    micro-nats before the cross-source sum (the q122/q192 rule — the
    sum is an exact BIGINT, aggregation order can't move it). Evenness
    divides that integer by ln(n_sources) once at the end; single-source
    languages have zero entropy and NULL evenness (ln 1 = 0). ln is the
    accepted libm seam (q111). Scale: two grouped counts, a
    |langs×sources| term table, nothing corpus-sized past the first
    exchange."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("lang").agg(
        F.sum("c").alias("n"), F.count("*").alias("k")
    )
    terms = cnt.join(tot, "lang").select(
        "lang", "n", "k",
        F.expr(
            "cast(round(-(cast(c as double) / cast(n as double))"
            " * ln(cast(c as double) / cast(n as double)) * 1e6) as bigint)"
        ).alias("t"),
    )
    s = terms.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.max("k").alias("n_sources"),
        F.sum("t").alias("entropy_micro"),
    )
    even = (
        "case when n_sources <= 1 then null "
        "else cast(round(cast(entropy_micro as double)"
        " / ln(cast(n_sources as double))) as bigint) end"
    )
    return s.select(
        "lang", "n_docs", "n_sources", "entropy_micro",
        F.expr(even).alias("evenness_micro"),
    ).orderBy("lang")


_Q198_SQL = """
WITH cnt AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, source
), tot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
  FROM cnt GROUP BY lang
), terms AS (
  SELECT cnt.lang, tot.n, tot.k,
         CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
              AS BIGINT) AS t
  FROM cnt JOIN tot ON cnt.lang = tot.lang
), s AS (
  SELECT lang, max(n) AS n_docs, max(k) AS n_sources,
         CAST(sum(t) AS BIGINT) AS entropy_micro
  FROM terms GROUP BY lang
)
SELECT lang, n_docs, n_sources, entropy_micro,
       CASE WHEN n_sources <= 1 THEN NULL
            ELSE CAST(round(CAST(entropy_micro AS DOUBLE)
                            / ln(CAST(n_sources AS DOUBLE))) AS BIGINT) END
         AS evenness_micro
FROM s
ORDER BY lang
"""


def q202_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law slope of the corpus token-frequency curve — the
    sanity number for synthetic/natural text (natural language sits
    near −1; templated spam flattens it). Token counts → top-1000 by
    (count desc, token) — a TakeOrdered, never a global sort — then OLS
    on (ln rank, ln freq) where BOTH logs are quantized to integer
    micro-units per point before the regression sums (q122 rule), so
    the slope numerator/denominator are exact DECIMAL integers and the
    fitted slope is a truncating ·10³ quotient. The 1000-point window
    rank is a tiny single-partition sort by construction (bounded K,
    not corpus). R² omitted deliberately — slope + intercept carry the
    Zipf diagnosis. ln is the accepted libm seam."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(1000)
    )
    ranked = toks.select(
        "tok", "freq",
        F.row_number()
        .over(W.orderBy(F.col("freq").desc(), "tok"))
        .alias("rank"),
    )
    pts = ranked.select(
        F.expr("cast(round(ln(cast(rank as double)) * 1e6) as bigint)").alias("u"),
        F.expr("cast(round(ln(cast(freq as double)) * 1e6) as bigint)").alias("v"),
    )
    s = pts.agg(
        F.count("*").alias("k"),
        F.sum("u").alias("su"), F.sum("v").alias("sv"),
        F.sum(F.expr("cast(u as decimal(19,0)) * v")).alias("suv"),
        F.sum(F.expr("cast(u as decimal(19,0)) * u")).alias("suu"),
    )
    num = "(cast(k as decimal(19,0)) * suv - cast(su as decimal(19,0)) * sv)"
    den = "(cast(k as decimal(19,0)) * suu - cast(su as decimal(19,0)) * su)"
    slope = f"case when {den} = 0 then null else {num} * 1000 div {den} end"
    # intercept (in micro ln-units): (Σv − slope_milli·Σu/1000) / k
    return s.select(
        F.col("k").alias("n_points"),
        F.expr(slope).alias("slope_milli"),
        F.expr(f"round(cast({slope} as double) / 1e3, 4)").alias("slope"),
        F.expr(
            f"case when {den} = 0 then null else "
            f"(sv - ({slope}) * su div 1000) div k end"
        ).alias("intercept_micro"),
    )


_Q202_SQL = """
WITH toks AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok
  ORDER BY freq DESC, tok
  LIMIT 1000
), ranked AS (
  SELECT tok, freq,
         row_number() OVER (ORDER BY freq DESC, tok) AS rank
  FROM toks
), pts AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS u,
         CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS v
  FROM ranked
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS k,
         CAST(sum(u) AS HUGEINT) AS su, CAST(sum(v) AS HUGEINT) AS sv,
         CAST(sum(CAST(u AS HUGEINT) * v) AS HUGEINT) AS suv,
         CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS suu
  FROM pts
)
SELECT CAST(k AS BIGINT) AS n_points,
       CAST(CASE WHEN (k * suu - su * su) = 0 THEN NULL
                 ELSE (k * suv - su * sv) * 1000 // (k * suu - su * su) END
            AS BIGINT) AS slope_milli,
       round(CAST(CAST(CASE WHEN (k * suu - su * su) = 0 THEN NULL
                 ELSE (k * suv - su * sv) * 1000 // (k * suu - su * su) END
            AS BIGINT) AS DOUBLE) / 1e3, 4) AS slope,
       CAST(CASE WHEN (k * suu - su * su) = 0 THEN NULL
                 ELSE (sv - (CASE WHEN (k * suu - su * su) = 0 THEN NULL
                             ELSE (k * suv - su * sv) * 1000
                                  // (k * suu - su * su) END) * su // 1000) // k
            END AS BIGINT) AS intercept_micro
FROM s
"""


def q206_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing / Chao1 vocabulary-coverage telemetry — how much of
    the language is the corpus still missing? From token counts alone:
    the Good–Turing unseen-probability mass is n₁/N (singleton tokens
    over total tokens — EXACT as a ·10⁶ integer quotient), and the
    Chao1 richness estimate V + n₁²/(2n₂) says how many types a bigger
    crawl would surface (exact quotient; n₂=0 falls back to the
    bias-corrected V + n₁(n₁−1)/2 — the standard Chao1 variant, flagged
    in the output). Everything derives from the count-of-counts table:
    one token rollup (the only corpus-sized exchange), one tiny
    frequency-of-frequencies rollup, one row out."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    s = tok.agg(
        F.count("*").alias("v"),
        F.sum("f").alias("n"),
        F.sum(F.expr("cast(f = 1 as long)")).alias("n1"),
        F.sum(F.expr("cast(f = 2 as long)")).alias("n2"),
    )
    unseen = "cast(n1 as decimal(19,0)) * 1000000 div n"
    chao = (
        "case when n2 > 0 "
        "then v + cast(n1 as decimal(19,0)) * n1 div (2 * n2) "
        "else v + cast(n1 as decimal(19,0)) * (n1 - 1) div 2 end"
    )
    return s.select(
        F.col("v").alias("vocab_size"),
        F.col("n").alias("n_tokens"),
        F.col("n1").alias("singletons"),
        F.col("n2").alias("doubletons"),
        F.expr(unseen).alias("unseen_mass_micro"),
        F.expr(chao).cast("long").alias("chao1_estimate"),
        (F.col("n2") == 0).alias("bias_corrected_variant"),
    )


_Q206_SQL = """
WITH tok AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS v,
         CAST(sum(f) AS BIGINT) AS n,
         CAST(sum(CAST(f = 1 AS BIGINT)) AS BIGINT) AS n1,
         CAST(sum(CAST(f = 2 AS BIGINT)) AS BIGINT) AS n2
  FROM tok
)
SELECT v AS vocab_size, n AS n_tokens, n1 AS singletons, n2 AS doubletons,
       CAST(CAST(n1 AS HUGEINT) * 1000000 // n AS BIGINT) AS unseen_mass_micro,
       CAST(CASE WHEN n2 > 0
                 THEN v + CAST(n1 AS HUGEINT) * n1 // (2 * n2)
                 ELSE v + CAST(n1 AS HUGEINT) * (n1 - 1) // 2 END
            AS BIGINT) AS chao1_estimate,
       (n2 = 0) AS bias_corrected_variant
FROM s
"""


def q212_keyness_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood (G²) keyness: the 5 tokens most
    OVER-represented in each source vs the rest of the corpus — the
    standard corpus-linguistics keyword extractor (better than raw
    tf-idf for small counts because it is a proper 2×2 likelihood
    test). All four contingency cells derive from two grouped counts
    (a; g−a; n−a; rest) — one corpus scan, token-keyed shuffles only.
    The G² float chain runs once per (source, token) over exact
    integers, is micro-quantized BEFORE ranking (so the rank compares
    integers and ties break on the token string identically in both
    engines), and keeps only over-represented tokens via the integer
    cross-multiply a·N > n·g. The per-source top-5 rank is a keyed
    window — map-side WindowGroupLimit prunes before the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    cnt = toks.groupBy("source", "tok").agg(F.count("*").alias("a"))
    gtok = cnt.groupBy("tok").agg(F.sum("a").alias("g"))
    ns = cnt.groupBy("source").agg(F.sum("a").alias("n"))
    ntot = gtok.agg(F.sum("g").alias("nt"))
    cells = (
        cnt.join(gtok, "tok")
        .join(ns, "source")
        .crossJoin(F.broadcast(ntot))
        .filter(F.expr("a * nt > n * g"))
        .withColumn("b", F.expr("g - a"))
        .withColumn("c", F.expr("n - a"))
        .withColumn("d", F.expr("(nt - n) - (g - a)"))
    )
    t = (
        "cast({o} as double) * ln(cast({o} as double) * cast(nt as double)"
        " / (cast({r} as double) * cast({col} as double)))"
    )
    g2 = (
        "cast(round(2.0 * ("
        f" (case when a = 0 then 0 else {t.format(o='a', r='n', col='g')} end)"
        f"+(case when b = 0 then 0 else {t.format(o='b', r='nt - n', col='g')} end)"
        f"+(case when c = 0 then 0 else {t.format(o='c', r='n', col='nt - g')} end)"
        f"+(case when d = 0 then 0 else {t.format(o='d', r='nt - n', col='nt - g')} end)"
        ") * 1e6) as bigint)"
    )
    scored = cells.select(
        "source", "tok", "a", "g", F.expr(g2).alias("g2_micro")
    )
    w = W.partitionBy("source").orderBy(
        F.col("g2_micro").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "rnk", "tok", "a", "g", "g2_micro")
        .orderBy("source", "rnk")
    )


_Q212_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS a
  FROM toks GROUP BY source, tok
), gtok AS (
  SELECT tok, CAST(sum(a) AS BIGINT) AS g FROM cnt GROUP BY tok
), ns AS (
  SELECT source, CAST(sum(a) AS BIGINT) AS n FROM cnt GROUP BY source
), ntot AS (
  SELECT CAST(sum(g) AS BIGINT) AS nt FROM gtok
), cells AS (
  SELECT cnt.source, cnt.tok, a, g, n, nt,
         g - a AS b, n - a AS c, (nt - n) - (g - a) AS d
  FROM cnt JOIN gtok ON cnt.tok = gtok.tok
  JOIN ns ON cnt.source = ns.source CROSS JOIN ntot
  WHERE a * nt > n * g
), scored AS (
  SELECT source, tok, a, g,
    CAST(round(2.0 * (
      (CASE WHEN a = 0 THEN 0 ELSE CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE)
        * CAST(nt AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(g AS DOUBLE))) END)
    + (CASE WHEN b = 0 THEN 0 ELSE CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE)
        * CAST(nt AS DOUBLE) / (CAST(nt - n AS DOUBLE) * CAST(g AS DOUBLE))) END)
    + (CASE WHEN c = 0 THEN 0 ELSE CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)
        * CAST(nt AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(nt - g AS DOUBLE))) END)
    + (CASE WHEN d = 0 THEN 0 ELSE CAST(d AS DOUBLE) * ln(CAST(d AS DOUBLE)
        * CAST(nt AS DOUBLE) / (CAST(nt - n AS DOUBLE) * CAST(nt - g AS DOUBLE))) END)
    ) * 1e6) AS BIGINT) AS g2_micro
  FROM cells
), ranked AS (
  SELECT source, tok, a, g, g2_micro,
         row_number() OVER (PARTITION BY source
                            ORDER BY g2_micro DESC, tok) AS rnk
  FROM scored
)
SELECT source, rnk, tok, a, g, g2_micro
FROM ranked WHERE rnk <= 5
ORDER BY source, rnk
"""


def q232_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale token burstiness: the 25 tokens whose observed
    document frequency falls furthest below the Poisson expectation
    D·(1 − exp(−tf/D)) — bursty/topical words concentrate their
    occurrences in few documents (adaptation << 1e6), while function
    words track the Poisson line. This is the doc-level complement of
    the within-doc repetition metrics (q45) and the corpus-level
    Zipf fit (q202). One grouped (tf, df) scan; the exp chain runs
    once per surviving token over exact integers, is micro-quantized
    BEFORE the rank (integers compare identically), and ties break on
    the token string. tf >= 50 is the estimator noise floor; exp is
    the accepted libm seam (q111/q192)."""
    from ...sources.files import register_views

    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        r"""
        WITH toks AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id, explode(split(lower(text), '\\s+')) AS tok
            FROM documents
          ) WHERE tok <> ''
        ),
        stats AS (
          SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
          FROM toks GROUP BY tok
        ),
        d AS (SELECT count(*) AS nd FROM documents),
        scored AS (
          SELECT tok, tf, df, nd,
                 CAST(round(CAST(df AS DOUBLE)
                      / (CAST(nd AS DOUBLE)
                         * (1 - exp(-CAST(tf AS DOUBLE) / CAST(nd AS DOUBLE))))
                      * 1e6) AS BIGINT) AS adaptation_micro
          FROM stats CROSS JOIN d
          WHERE tf >= 50
        )
        SELECT tok, tf, df, adaptation_micro
        FROM scored
        ORDER BY adaptation_micro, tok
        LIMIT 25
        """
    )


_Q232_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), stats AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY tok
), d AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
scored AS (
  SELECT tok, tf, df, nd,
         CAST(round(CAST(df AS DOUBLE)
              / (CAST(nd AS DOUBLE)
                 * (1 - exp(-CAST(tf AS DOUBLE) / CAST(nd AS DOUBLE))))
              * 1e6) AS BIGINT) AS adaptation_micro
  FROM stats CROSS JOIN d
  WHERE tf >= 50
)
SELECT tok, tf, df, adaptation_micro
FROM scored
ORDER BY adaptation_micro, tok
LIMIT 25
"""


def q236_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per source — the
    classic curation-time readability screen, fully deterministic:
    words are letter runs, sentences are [.!?]+ runs (>=1 per doc),
    and the syllable heuristic counts [aeiouy]+ vowel groups plus one
    for each zero-vowel word (Flesch's every-word-has-a-syllable
    floor). All three corpus sums are exact BIGINTs < 2^53, so the
    final FRE/FKGL chains are single IEEE double expressions written
    identically in both engines (e0 literals force DOUBLE — a bare
    206.835 is DECIMAL in Spark SQL, the q175 trap); the per-source
    ratios are also emitted as exact integer micro quotients. Scale
    shape: one grouped partial-agg scan, no joins, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.expr("size(regexp_extract_all(lower(text), '[a-z]+', 0))")
        .alias("w"),
        F.expr("greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)")
        .alias("s"),
        F.expr(
            "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
            " + size(filter(regexp_extract_all(lower(text), '[a-z]+', 0),"
            "               x -> x not rlike '[aeiouy]'))"
        ).alias("y"),
    )
    g = per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("w").alias("words"),
        F.sum("s").alias("sentences"),
        F.sum("y").alias("syllables"),
    )
    return g.select(
        "source", "n_docs", "words", "sentences", "syllables",
        F.expr("cast(words as decimal(19,0)) * 1000000 div sentences")
        .alias("wps_micro"),
        F.expr(
            "case when words > 0 then"
            " cast(syllables as decimal(19,0)) * 1000000 div words end"
        ).alias("spw_micro"),
        F.expr(
            "case when words > 0 then round(206.835e0"
            " - 1.015e0 * words / sentences"
            " - 84.6e0 * syllables / words, 4) end"
        ).alias("fre"),
        F.expr(
            "case when words > 0 then round(0.39e0 * words / sentences"
            " + 11.8e0 * syllables / words - 15.59e0, 4) end"
        ).alias("fkgl"),
    ).orderBy("source")


_Q236_SQL = r"""
WITH per AS (
  SELECT source,
         len(regexp_extract_all(lower(text), '[a-z]+')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))
           + len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                             x -> NOT regexp_matches(x, '[aeiouy]')))
           AS y
  FROM documents
), g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS words,
         CAST(sum(s) AS BIGINT) AS sentences,
         CAST(sum(y) AS BIGINT) AS syllables
  FROM per GROUP BY source
)
SELECT source, n_docs, words, sentences, syllables,
       CAST(CAST(words AS HUGEINT) * 1000000 // sentences AS BIGINT)
         AS wps_micro,
       CAST(CASE WHEN words > 0 THEN
            CAST(syllables AS HUGEINT) * 1000000 // words END AS BIGINT)
         AS spw_micro,
       CASE WHEN words > 0 THEN round(206.835e0
            - 1.015e0 * words / sentences
            - 84.6e0 * syllables / words, 4) END AS fre,
       CASE WHEN words > 0 THEN round(0.39e0 * words / sentences
            + 11.8e0 * syllables / words - 15.59e0, 4) END AS fkgl
FROM g
ORDER BY source
"""


def q237_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM (d=0.75): the top-20 conditional
    probabilities P(w|prev) = (c−d)/c(prev) + d·N₁₊(prev·)/c(prev) ·
    N₁₊(·w)/N₁₊(··) over corpus letter-run tokens — the classic LM
    smoothing where backoff mass goes to CONTINUATION counts (how many
    contexts a word completes), not raw frequency. d = 3/4 keeps the
    whole score rational: P = [(4c−3)·N₁₊(··) + 3·N₁₊(prev·)·N₁₊(·w)]
    / (4·c(prev)·N₁₊(··)), emitted as an exact integer micro quotient
    (DECIMAL/HUGEINT cross-multiplication, no floats anywhere). Scale
    shape: bigrams collapse to the (prev, next) count table in the
    first agg; context/continuation counts are keyed windows over that
    table; N₁₊(··) is a 1-row broadcast; the top-20 compiles to
    TakeOrderedAndProject (deterministic lexicographic tie-break).
    Bigram guard per the q139 sequence(1,0)-is-descending lesson."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _kn_bigram_lm(docs)
        .select(
            "prev_tok", "next_tok", "c", "cp", "np", "nfw", "nbb",
            F.expr(
                "cast((cast(4 * c - 3 as decimal(19,0)) * nbb"
                " + 3 * cast(nfw as decimal(19,0)) * np) * 1000000"
                " div (4 * cast(cp as decimal(19,0)) * nbb) as bigint)"
            ).alias("p_micro"),
        )
        .orderBy(F.desc("p_micro"), "prev_tok", "next_tok")
        .limit(20)
    )


_Q237_SQL = r"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents
), bg AS (
  SELECT w[i] AS prev_tok, w[i + 1] AS next_tok
  FROM toks, unnest(generate_series(1, len(w) - 1)) AS u(i)
  WHERE len(w) >= 2
), cnt AS (
  SELECT prev_tok, next_tok, CAST(count(*) AS BIGINT) AS c
  FROM bg GROUP BY prev_tok, next_tok
), enr AS (
  SELECT prev_tok, next_tok, c,
         CAST(sum(c) OVER (PARTITION BY prev_tok) AS BIGINT) AS cp,
         CAST(count(*) OVER (PARTITION BY prev_tok) AS BIGINT) AS nfw,
         CAST(count(*) OVER (PARTITION BY next_tok) AS BIGINT) AS np
  FROM cnt
), nb AS (
  SELECT CAST(count(*) AS BIGINT) AS nbb FROM cnt
)
SELECT prev_tok, next_tok, c, cp, np, nfw, nbb,
       CAST((CAST(4 * c - 3 AS HUGEINT) * nbb
             + 3 * CAST(nfw AS HUGEINT) * np) * 1000000
            // (4 * CAST(cp AS HUGEINT) * nbb) AS BIGINT) AS p_micro
FROM enr CROSS JOIN nb
ORDER BY p_micro DESC, prev_tok, next_tok
LIMIT 20
"""


def q240_mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR-50 lexical diversity per source (moving-average type-token
    ratio, the standard length-robust alternative to raw TTR), computed
    EXACTLY without materializing any sliding window: summed over all
    n−w+1 windows, Σ(types per window) decomposes into per-POSITION
    contributions — token instance i is its window's first occurrence
    iff the window starts after i's previous occurrence, so it
    contributes max(0, min(i, n−w+1) − greatest(i−w+1, prev_i+1, 1) + 1)
    windows. One posexplode + one (doc, token)-keyed lag gives prev_i;
    everything else is exact integer arithmetic — O(tokens) total, the
    100 TB shape (a literal w-sized sliding window would be O(tokens·w)).
    Raw corpus TTR is emitted alongside for the length-bias contrast.
    Docs shorter than w=50 tokens have no window and are excluded from
    the MATTR numerator/denominator (standard MATTR); they still count
    in the TTR columns."""
    w_sz = 50
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id",
        F.posexplode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("pos0", "tok"),
    ).select(
        "source", "doc_id", "tok", (F.col("pos0") + 1).alias("i")
    )
    n_per = toks.groupBy("source", "doc_id").agg(
        F.max("i").alias("n"), F.countDistinct("tok").alias("dt")
    )
    w_lag = W.partitionBy("doc_id", "tok").orderBy("i")
    prev = toks.select(
        "source", "doc_id", "tok", "i",
        F.coalesce(F.lag("i").over(w_lag), F.lit(0)).alias("prev"),
    )
    contrib = prev.join(
        n_per.select("doc_id", "n"), "doc_id"
    ).where(F.col("n") >= w_sz).select(
        "source",
        F.expr(
            f"greatest(least(i, n - {w_sz} + 1)"
            f" - greatest(i - {w_sz} + 1, prev + 1, 1) + 1, 0)"
        ).alias("c"),
    )
    mattr = contrib.groupBy("source").agg(
        F.sum("c").alias("type_instances")
    )
    wins = n_per.groupBy("source").agg(
        F.sum("n").alias("total_tokens"),
        F.sum("dt").alias("distinct_token_sum"),
        F.sum(
            F.when(F.col("n") >= w_sz, F.col("n") - w_sz + 1).otherwise(0)
        ).alias("windows"),
        F.count("*").alias("n_docs"),
    )
    return (
        wins.join(mattr, "source", "left")
        .select(
            "source", "n_docs", "total_tokens", "windows",
            F.coalesce("type_instances", F.lit(0)).alias("type_instances"),
            F.expr(
                f"case when windows > 0 then"
                f" cast(coalesce(type_instances, 0) as decimal(19,0))"
                f" * 1000000 div (cast(windows as decimal(19,0)) * {w_sz})"
                f" end"
            ).alias("mattr_micro"),
            F.expr(
                "case when total_tokens > 0 then"
                " cast(distinct_token_sum as decimal(19,0)) * 1000000"
                " div total_tokens end"
            ).alias("ttr_micro"),
        )
        .orderBy("source")
    )


_Q240_SQL = r"""
WITH toks AS (
  SELECT source, doc_id, w[i] AS tok, i
  FROM (SELECT source, doc_id,
               regexp_extract_all(lower(text), '[a-z]+') AS w
        FROM documents),
       unnest(generate_series(1, len(w))) AS u(i)
), n_per AS (
  SELECT source, doc_id, CAST(max(i) AS BIGINT) AS n,
         CAST(count(DISTINCT tok) AS BIGINT) AS dt
  FROM toks GROUP BY source, doc_id
), prev AS (
  SELECT source, doc_id, tok, i,
         coalesce(lag(i) OVER (PARTITION BY doc_id, tok ORDER BY i), 0)
           AS prev
  FROM toks
), contrib AS (
  SELECT p.source,
         greatest(least(p.i, n.n - 50 + 1)
                  - greatest(p.i - 50 + 1, p.prev + 1, 1) + 1, 0) AS c
  FROM prev p JOIN n_per n ON p.doc_id = n.doc_id
  WHERE n.n >= 50
), mattr AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS type_instances
  FROM contrib GROUP BY source
), wins AS (
  SELECT source,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(sum(dt) AS BIGINT) AS distinct_token_sum,
         CAST(sum(CASE WHEN n >= 50 THEN n - 50 + 1 ELSE 0 END) AS BIGINT)
           AS windows,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM n_per GROUP BY source
)
SELECT wins.source, n_docs, total_tokens, windows,
       CAST(coalesce(type_instances, 0) AS BIGINT) AS type_instances,
       CAST(CASE WHEN windows > 0 THEN
            CAST(coalesce(type_instances, 0) AS HUGEINT) * 1000000
            // (CAST(windows AS HUGEINT) * 50) END AS BIGINT) AS mattr_micro,
       CAST(CASE WHEN total_tokens > 0 THEN
            CAST(distinct_token_sum AS HUGEINT) * 1000000
            // total_tokens END AS BIGINT) AS ttr_micro
FROM wins LEFT JOIN mattr ON wins.source = mattr.source
ORDER BY wins.source
"""


def q249_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source perplexity under the corpus Kneser-Ney bigram LM
    (q237's shared _kn_bigram_lm) — in-engine model evaluation: which
    sources does the corpus-level LM model well? Each distinct bigram's
    log P is computed ONCE on the LM table as ln(num) − ln(den) of the
    exact d=3/4 rationals (BIGINT-routed casts, <2⁵³), nano-quantized
    BEFORE any accumulation, so per-source totals are exact integer
    sums of (multiplicity × lnp_nano) — order-independent (the q222
    discipline). Resubstitution scoring (the LM is estimated on the
    full corpus), so every doc bigram exists in the LM — no backoff
    path needed; PPL = exp(−avg lnP) runs once per source row. Scale
    shape: one keyed join of the (source, bigram) count table against
    the LM table; both are post-aggregation; truncating avg division
    is toward-zero in both engines (negative sums). Magnitude audit:
    |lnp_nano| ≤ ~3e10, so Σ mult·lnp_nano wraps BIGINT at ~3e8
    bigrams per source — it accumulates in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) and is emitted as a STRING on both sides
    (q78/q233 rule); avg_lnp_nano (≤ 3e10) stays BIGINT-safe."""
    docs = load_table(spark, sf_dir, "documents")
    lm = _kn_bigram_lm(docs).select(
        "prev_tok", "next_tok",
        F.expr(
            "cast(round((ln(cast(cast(cast(4 * c - 3 as decimal(19,0))"
            " * nbb + 3 * cast(nfw as decimal(19,0)) * np as bigint)"
            " as double))"
            " - ln(cast(cast(4 * cast(cp as decimal(19,0)) * nbb"
            " as bigint) as double))) * 1e9) as bigint)"
        ).alias("lnp_nano"),
    )
    occ = (
        docs.select(
            "source",
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            .alias("w"),
        )
        .select(
            "source",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 2 THEN"
                    " transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS p,"
                    "             element_at(w, i + 1) AS t))"
                    " ELSE CAST(array()"
                    " AS array<struct<p:string,t:string>>) END"
                )
            ).alias("b"),
        )
        .select(
            "source",
            F.col("b.p").alias("prev_tok"),
            F.col("b.t").alias("next_tok"),
        )
        .groupBy("source", "prev_tok", "next_tok")
        .agg(F.count("*").alias("mult"))
    )
    per = occ.join(lm, ["prev_tok", "next_tok"]).groupBy("source").agg(
        F.sum("mult").alias("n_bigrams"),
        F.sum(F.expr("CAST(mult AS DECIMAL(38,0)) * lnp_nano"))
        .alias("sum_lnp_nano"),
    )
    return per.select(
        "source", "n_bigrams",
        F.expr("CAST(sum_lnp_nano AS STRING)").alias("sum_lnp_nano"),
        F.expr("sum_lnp_nano div n_bigrams").alias("avg_lnp_nano"),
        F.expr(
            "round(exp(-cast(sum_lnp_nano div n_bigrams as double)"
            " / 1e9), 4)"
        ).alias("perplexity"),
    ).orderBy("source")


_Q249_SQL = r"""
WITH toks AS (
  SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS w
  FROM documents
), bg AS (
  SELECT source, w[i] AS prev_tok, w[i + 1] AS next_tok
  FROM toks, unnest(generate_series(1, len(w) - 1)) AS u(i)
  WHERE len(w) >= 2
), cnt AS (
  SELECT prev_tok, next_tok, CAST(count(*) AS BIGINT) AS c
  FROM bg GROUP BY prev_tok, next_tok
), enr AS (
  SELECT prev_tok, next_tok, c,
         CAST(sum(c) OVER (PARTITION BY prev_tok) AS BIGINT) AS cp,
         CAST(count(*) OVER (PARTITION BY prev_tok) AS BIGINT) AS nfw,
         CAST(count(*) OVER (PARTITION BY next_tok) AS BIGINT) AS np
  FROM cnt
), nb AS (
  SELECT CAST(count(*) AS BIGINT) AS nbb FROM cnt
), lm AS (
  SELECT prev_tok, next_tok,
         CAST(round((ln(CAST(CAST(CAST(4 * c - 3 AS HUGEINT) * nbb
              + 3 * CAST(nfw AS HUGEINT) * np AS BIGINT) AS DOUBLE))
              - ln(CAST(CAST(4 * CAST(cp AS HUGEINT) * nbb AS BIGINT)
                   AS DOUBLE))) * 1e9) AS BIGINT) AS lnp_nano
  FROM enr CROSS JOIN nb
), occ AS (
  SELECT source, prev_tok, next_tok, CAST(count(*) AS BIGINT) AS mult
  FROM bg GROUP BY source, prev_tok, next_tok
), per AS (
  SELECT source, CAST(sum(mult) AS BIGINT) AS n_bigrams,
         CAST(sum(CAST(mult AS HUGEINT) * lnp_nano) AS HUGEINT)
           AS sum_lnp_nano
  FROM occ JOIN lm USING (prev_tok, next_tok)
  GROUP BY source
)
SELECT source, n_bigrams, CAST(sum_lnp_nano AS VARCHAR) AS sum_lnp_nano,
       CAST(sum_lnp_nano // n_bigrams AS BIGINT) AS avg_lnp_nano,
       round(exp(-CAST(CAST(sum_lnp_nano // n_bigrams AS BIGINT)
             AS DOUBLE) / 1e9), 4) AS perplexity
FROM per
ORDER BY source
"""


def q259_count_min_tokens(
    spark: SparkSession, sf_dir: str, fanout: bool = True
) -> DataFrame:
    """Count-Min sketch (operators/sketches.count_min_sketch, depth=4,
    width=1024) over the document token stream, audited against exact
    counts for 25 probe tokens: the 20 most frequent (count desc, token)
    and the 5 least frequent (count asc, token). CMS guarantees
    est >= exact; `overcount` shows the collision inflation the width
    knob buys down.

    Shape at 100 TB: the sketch is 4·1024 additive cells built by one
    map-side-combinable groupBy — state independent of corpus size, the
    same mergeable-partial contract as the KMV/MG/HLL tiers; probes
    broadcast. Every output column is an exact BIGINT (driver-hash
    safe), and the md5-slice bucket hash is recomputed identically by
    the DuckDB oracle."""
    from ...operators.sketches import count_min_sketch

    # fanout=False lets the q350 scoreboard opt this arm out of the scan
    # fan-out (a per-arm net loss under composites, VERDICT r11 item 1).
    docs = load_table(spark, sf_dir, "documents", parallelize=fanout)
    toks = docs.select(
        F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    sketch = count_min_sketch(toks, "tok", depth=4, width=1024)

    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), "tok").limit(20)
    rare = exact.orderBy(F.col("exact_cnt").asc(), "tok").limit(5)
    probes = top.unionByName(rare).distinct()

    rows = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("row")
    hashed = probes.select("tok", "exact_cnt", rows).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("tok"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1024,
    )
    est = (
        sketch.join(F.broadcast(hashed), ["row", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("counter").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    ).orderBy(F.col("exact_cnt").desc(), "tok")


_Q259_SQL = r"""
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), rows_ AS (
  SELECT unnest([0, 1, 2, 3]) AS row
), cells AS (
  SELECT row,
         ('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || tok), 1, 8))::BIGINT
           % 1024 AS bucket,
         CAST(count(*) AS BIGINT) AS counter
  FROM toks CROSS JOIN rows_
  GROUP BY 1, 2
), exact_ AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY tok
), top AS (
  SELECT * FROM exact_ ORDER BY exact_cnt DESC, tok LIMIT 20
), rare AS (
  SELECT * FROM exact_ ORDER BY exact_cnt ASC, tok LIMIT 5
), probes AS (
  SELECT DISTINCT * FROM (SELECT * FROM top UNION ALL SELECT * FROM rare)
), hashed AS (
  SELECT tok, exact_cnt, row,
         ('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || tok), 1, 8))::BIGINT
           % 1024 AS bucket
  FROM probes CROSS JOIN rows_
), est AS (
  SELECT tok, exact_cnt, CAST(min(counter) AS BIGINT) AS cms_est
  FROM cells JOIN hashed USING (row, bucket)
  GROUP BY tok, exact_cnt
)
SELECT tok, exact_cnt, cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est
ORDER BY exact_cnt DESC, tok
"""


def q261_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turing / Good-Turing frequency re-estimation over the token
    unigram distribution: the frequency-of-frequencies table N_r and
    the adjusted count r* = (r+1)·N_{r+1}/N_r for the 20 smallest r — the
    classical smoothing companion to the Kneser-Ney LM (q237/q249) and
    the Zipf fit (q202); N_1/N is the unseen-mass estimate an OOV-rate
    monitor tracks.

    Exactness: r* is the exact BIGINT floor((r+1)·N_{r+1}·1e6 / N_r)
    (integer div both engines); rows where N_{r+1}=0 report 0 via the
    left join, matching the raw Turing estimate's degeneracy.

    Shape at 100 TB: one corpus groupBy (token counts) then a groupBy
    on the counts themselves — the freq-of-freqs relation is tiny and
    heavy-tailed; the r+1 self-join and the 20-smallest-r TakeOrdered run on it, never
    on the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("r"))
    fof = counts.groupBy("r").agg(F.count("*").alias("n_r"))
    nxt = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next"))
    return (
        fof.join(nxt, "r", "left")
        .select(
            "r",
            "n_r",
            F.coalesce("n_next", F.lit(0)).alias("n_next"),
            F.expr(
                "((r + 1) * coalesce(n_next, 0L) * 1000000L) div n_r"
            ).alias("rstar_micro"),
        )
        .orderBy("r")
        .limit(20)
    )


_Q261_SQL = r"""
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), counts AS (
  SELECT tok, count(*) AS r FROM toks GROUP BY tok
), fof AS (
  SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY r
), nxt AS (
  SELECT r - 1 AS r, n_r AS n_next FROM fof
)
SELECT fof.r, fof.n_r,
       CAST(coalesce(nxt.n_next, 0) AS BIGINT) AS n_next,
       CAST(((fof.r + 1) * coalesce(nxt.n_next, 0) * 1000000) // fof.n_r
            AS BIGINT) AS rstar_micro
FROM fof LEFT JOIN nxt ON fof.r = nxt.r
ORDER BY fof.r
LIMIT 20
"""


def q282_lang_source_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between the lang and source
    metadata columns — the redundancy audit that says whether two
    sharding/stratification keys carry independent signal (NMI→0) or
    duplicate each other (NMI→1); the contingency-table sibling of the
    chi-square (q182) and the entropy views (q198).

    Exactness: each cell term c_ij·ln(N·c_ij/(r_i·c_j)) and each
    marginal term r·ln(N/r) is ONE deterministic double chain over
    exact BIGINT counts, floored to nanos BEFORE the cross-cell sums
    (the q258 discipline); NMI is the final rounded chain
    MI/sqrt(H_lang·H_source).

    Shape at 100 TB: one grouped corpus pass into <=|langs|·|sources|
    cells; everything after runs on that bounded grid."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    rows_ = cells.groupBy("lang").agg(F.sum("c").alias("r"))
    cols = cells.groupBy("source").agg(F.sum("c").alias("k"))
    tot = cells.agg(F.sum("c").alias("n"))
    mi = (
        cells.join(rows_, "lang")
        .join(cols, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(floor(CAST(c AS DOUBLE)"
                " * ln(CAST(n AS DOUBLE) * c / (CAST(r AS DOUBLE) * k))"
                " * 1.0e9) AS BIGINT)"
            ).alias("t")
        )
        .agg(F.sum("t").alias("mi_sum_nano"))
    )
    hl = (
        rows_.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(floor(CAST(r AS DOUBLE)"
                " * ln(CAST(n AS DOUBLE) / r) * 1.0e9) AS BIGINT)"
            ).alias("t")
        )
        .agg(F.sum("t").alias("hl_sum_nano"))
    )
    hs = (
        cols.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(floor(CAST(k AS DOUBLE)"
                " * ln(CAST(n AS DOUBLE) / k) * 1.0e9) AS BIGINT)"
            ).alias("t")
        )
        .agg(F.sum("t").alias("hs_sum_nano"))
    )
    return (
        mi.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "mi_sum_nano",
            "hl_sum_nano",
            "hs_sum_nano",
            F.round(
                F.expr(
                    "CASE WHEN hl_sum_nano > 0 AND hs_sum_nano > 0 THEN"
                    " CAST(mi_sum_nano AS DOUBLE)"
                    " / sqrt(CAST(hl_sum_nano AS DOUBLE)"
                    "        * CAST(hs_sum_nano AS DOUBLE))"
                    " ELSE 0.0e0 END"
                ),
                6,
            ).alias("nmi"),
        )
    )


_Q282_SQL = """
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), rows_ AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY lang
), cols AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS k FROM cells GROUP BY source
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
), mi AS (
  SELECT CAST(sum(CAST(floor(CAST(c AS DOUBLE)
           * ln(CAST(n AS DOUBLE) * c / (CAST(r AS DOUBLE) * k))
           * 1.0e9) AS BIGINT)) AS BIGINT) AS mi_sum_nano
  FROM cells
  JOIN rows_ USING (lang)
  JOIN cols USING (source)
  CROSS JOIN tot
), hl AS (
  SELECT CAST(sum(CAST(floor(CAST(r AS DOUBLE)
           * ln(CAST(n AS DOUBLE) / r) * 1.0e9) AS BIGINT)) AS BIGINT)
           AS hl_sum_nano
  FROM rows_ CROSS JOIN tot
), hs AS (
  SELECT CAST(sum(CAST(floor(CAST(k AS DOUBLE)
           * ln(CAST(n AS DOUBLE) / k) * 1.0e9) AS BIGINT)) AS BIGINT)
           AS hs_sum_nano
  FROM cols CROSS JOIN tot
)
SELECT n, mi_sum_nano, hl_sum_nano, hs_sum_nano,
       round(CASE WHEN hl_sum_nano > 0 AND hs_sum_nano > 0 THEN
               CAST(mi_sum_nano AS DOUBLE)
               / sqrt(CAST(hl_sum_nano AS DOUBLE)
                      * CAST(hs_sum_nano AS DOUBLE))
             ELSE 0.0e0 END, 6) AS nmi
FROM mi CROSS JOIN hl CROSS JOIN hs CROSS JOIN tot
"""


def q284_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / byte-economics per language: whitespace
    tokens, characters, UTF-8 bytes, and the derived chars-per-token,
    bytes-per-token and multibyte-byte share — the table that predicts
    context-window cost per language and motivates the q277
    temperature weights (languages with high bytes/token burn budget
    faster).

    All-integer: per-doc counts sum exactly; the ratios are milli/ppm
    floor divisions of exact BIGINTs.

    Shape at 100 TB: one narrow projection (length/octet_length/
    size(split) — no token explode), one groupBy into <=5 language
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), "\\s+")))
        .cast("long")
        .alias("tk"),
        F.length("text").cast("long").alias("chars"),
        F.expr("octet_length(text)").cast("long").alias("bytes"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tk").alias("tokens"),
            F.sum("chars").alias("chars"),
            F.sum("bytes").alias("bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "tokens",
            "chars",
            "bytes",
            F.expr("(chars * 1000L) div tokens").alias("chars_per_token_milli"),
            F.expr("(bytes * 1000L) div tokens").alias("bytes_per_token_milli"),
            F.expr("((bytes - chars) * 1000000L) div bytes").alias(
                "multibyte_ppm"
            ),
        )
        .orderBy("lang")
    )


_Q284_SQL = r"""
WITH per AS (
  SELECT lang,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
           AS tk,
         CAST(length(text) AS BIGINT) AS chars,
         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS bytes
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tk) AS BIGINT) AS tokens,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(sum(bytes) AS BIGINT) AS bytes,
       CAST((sum(chars) * 1000) // sum(tk) AS BIGINT)
         AS chars_per_token_milli,
       CAST((sum(bytes) * 1000) // sum(tk) AS BIGINT)
         AS bytes_per_token_milli,
       CAST(((sum(bytes) - sum(chars)) * 1000000) // sum(bytes) AS BIGINT)
         AS multibyte_ppm
FROM per
GROUP BY lang
ORDER BY lang
"""


def q302_hyperloglog_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per source, audited against
    the exact distinct — the classic cardinality sketch alongside KMV
    (q106): 256 registers (b=8) whose per-source state is a 256-cell
    max-aggregate, additive under merge (register-wise max), so
    per-partition partials combine map-side and a streaming ingest can
    maintain it exactly like the CMS store.

    Engine-portable construction: the 32-bit md5 slice (the _h32
    idiom) splits into the top-8-bit register index and a 24-bit
    remainder w; rho = 24 − floor(log2(w)) (w=0 → 25) is exact because
    log2 is correctly rounded in BOTH engines on exact integers. The
    register sum Σ2^(−M_j) is computed as the EXACT BIGINT
    S = Σ 2^(25−M_j) (≤ 256·2^25 ≈ 8.6e9 — no float accumulation
    across registers); the raw estimate α·m²·2^25/S and the
    small-range linear-counting branch m·ln(m/V) (taken when the raw
    estimate ≤ 2.5m and zero registers exist — documented standard
    HLL) are single deterministic double chains over S and the exact
    zero-register count V.

    Magnitude audit: register state is 256 cells/source regardless of
    corpus size; S ≤ 2^33. Nothing scales with rows.

    Shape at 100 TB: one token explode → (source, register) max
    combine (map-side, ≤ |sources|·256 cells); the exact-distinct
    audit column is itself one distinct aggregate (the expensive
    truth the sketch replaces — kept here because the query IS the
    accuracy audit)."""
    from ...operators.sketches import hll_estimate, hll_registers

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    regs = hll_registers(toks, "tok", key_cols=["source"])
    state = hll_estimate(regs, key_cols=["source"])
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("n_exact")
    )
    return (
        state.join(exact, "source")
        .select(
            "source",
            "n_exact",
            "reg_sum_s",
            "v_zero",
            "hll_estimate",
            F.expr(
                "CAST(floor(abs(hll_estimate - CAST(n_exact AS DOUBLE))"
                " * 1e6 / CAST(n_exact AS DOUBLE)) AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("source")
    )


_Q302_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), hashed AS (
  SELECT source,
         h % 16777216 AS w,
         h // 16777216 AS j
  FROM (
    SELECT source,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
    FROM toks
  )
), rho AS (
  SELECT source, j,
         CASE WHEN w = 0 THEN 25
              ELSE 24 - CAST(floor(log2(CAST(w AS DOUBLE))) AS BIGINT)
         END AS rho
  FROM hashed
), regs AS (
  SELECT source, j, max(rho) AS m FROM rho GROUP BY source, j
), state AS (
  SELECT source,
         CAST(sum(CAST(1 AS BIGINT) << CAST(25 - m AS INT)) AS BIGINT)
           + (256 - count(*)) * 33554432 AS s,
         256 - count(*) AS v_zero
  FROM regs GROUP BY source
), exact AS (
  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_exact
  FROM toks GROUP BY source
)
SELECT state.source,
       exact.n_exact,
       CAST(state.s AS BIGINT) AS reg_sum_s,
       CAST(state.v_zero AS BIGINT) AS v_zero,
       round(CASE WHEN ((0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0))
                  * 65536.0e0 * 33554432.0e0 / CAST(s AS DOUBLE)) <= 640.0e0
                  AND v_zero > 0
             THEN 256.0e0 * ln(256.0e0 / CAST(v_zero AS DOUBLE))
             ELSE ((0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0))
                   * 65536.0e0 * 33554432.0e0 / CAST(s AS DOUBLE)) END, 2)
         AS hll_estimate,
       CAST(floor(abs(round(CASE
                  WHEN ((0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0))
                  * 65536.0e0 * 33554432.0e0 / CAST(s AS DOUBLE)) <= 640.0e0
                  AND v_zero > 0
             THEN 256.0e0 * ln(256.0e0 / CAST(v_zero AS DOUBLE))
             ELSE ((0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0))
                   * 65536.0e0 * 33554432.0e0 / CAST(s AS DOUBLE)) END, 2)
             - CAST(n_exact AS DOUBLE)) * 1e6 / CAST(n_exact AS DOUBLE))
         AS BIGINT) AS err_ppm
FROM state JOIN exact USING (source)
ORDER BY source
"""


def q305_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the UNSEEN vocabulary per
    source: V̂ = V + n₁(n₁−1)/(2(n₂+1)) from the singleton/doubleton
    counts of the token frequency spectrum — the "how much vocabulary
    would more crawling surface" planner that pairs with the observed
    vocab-growth curve (q157) and the HLL estimate of what IS there
    (q302).

    Exactness: the frequency spectrum is a grouped count of grouped
    counts — all BIGINTs; the bias-corrected Chao1 term is ONE integer
    division floored to milli units (n₁(n₁−1)·1000 div (2(n₂+1)) —
    nonnegative, both engines floor identically), so the estimate is
    exact integer milli-vocab. Coverage (Good's C = 1 − n₁/N) is ppm
    by the same route.

    Magnitude audit: n₁ ≤ V ≤ N tokens; n₁²·1000 wraps BIGINT at
    n₁ ≈ 3e6 — the product runs in DECIMAL(38,0)/HUGEINT (good to
    1e16 singletons).

    Shape at 100 TB: token explode → (source, tok) counts (map-side
    combined) → per-source spectrum rollup; output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    spec = tf.groupBy("source").agg(
        F.count("*").alias("v_obs"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("n2"),
    )
    return spec.select(
        "source",
        "n_tokens",
        "v_obs",
        "n1",
        "n2",
        F.expr(
            "v_obs * 1000 + (CAST(n1 AS DECIMAL(38,0)) * (n1 - 1) * 1000)"
            " div (2 * (n2 + 1))"
        ).alias("chao1_milli"),
        F.expr(
            "1000000 - (n1 * 1000000) div n_tokens"
        ).alias("coverage_ppm"),
    ).orderBy("source")


_Q305_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), tf AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), spec AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS v_obs,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM tf GROUP BY source
)
SELECT source, n_tokens, v_obs, n1, n2,
       CAST(v_obs * 1000 + (CAST(n1 AS HUGEINT) * (n1 - 1) * 1000)
            // (2 * (n2 + 1)) AS BIGINT) AS chao1_milli,
       CAST(1000000 - (n1 * 1000000) // n_tokens AS BIGINT) AS coverage_ppm
FROM spec
ORDER BY source
"""


def q310_lexical_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-concentration suite per source off ONE token frequency
    spectrum: Yule's K (the length-invariant repeated-vocabulary
    characteristic), Simpson's repeat-probability D, the hapax share
    of the vocabulary, and the type-token ratio — the classic
    stylometric quartet that pairs with Chao1 (q305, what's missing)
    and the entropy views (q198, how it's spread).

    Exactness: all four are integer rationals off (V, N, n₁, Σc²):
    K_milli = 10⁴·10³·(Σc² − N) div N², Simpson_ppm =
    Σc(c−1)·10⁶ div N(N−1), hapax/TTR in ppm — nonnegative floors,
    identical in both engines.

    Magnitude audit: Σc² ≤ N² wraps BIGINT at N ≈ 3e9 tokens — the
    squared-count sum and every N² product run in DECIMAL(38,0)/
    HUGEINT; Σc² is emitted as a STRING (q78/q233 rule).

    Shape at 100 TB: token explode → (source, tok) counts (map-side
    combined) → one spectrum rollup per source."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    spec = tf.groupBy("source").agg(
        F.count("*").alias("v_obs"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
    )
    return spec.select(
        "source",
        "n_tokens",
        "v_obs",
        "n1",
        F.expr("CAST(s2 AS STRING)").alias("sum_c2"),
        F.expr(
            "((s2 - n_tokens) * 10000000)"
            " div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)"
        ).alias("yule_k_milli"),
        F.expr(
            "((s2 - n_tokens) * 1000000)"
            " div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))"
        ).alias("simpson_ppm"),
        F.expr("(n1 * 1000000) div v_obs").alias("hapax_ppm"),
        F.expr("(v_obs * 1000000) div n_tokens").alias("ttr_ppm"),
    ).orderBy("source")


_Q310_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), tf AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), spec AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS v_obs,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
  FROM tf GROUP BY source
)
SELECT source, n_tokens, v_obs, n1,
       CAST(s2 AS VARCHAR) AS sum_c2,
       CAST(((s2 - n_tokens) * 10000000)
            // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
         AS yule_k_milli,
       CAST(((s2 - n_tokens) * 1000000)
            // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
         AS simpson_ppm,
       CAST((n1 * 1000000) // v_obs AS BIGINT) AS hapax_ppm,
       CAST((v_obs * 1000000) // n_tokens AS BIGINT) AS ttr_ppm
FROM spec
ORDER BY source
"""


def q326_vocab_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage of a top-K vocabulary for K in (10,
    100, 1000, 65536) — the tokenizer-budget planning curve (how big
    must the vocab be to cover X% of the stream?), completing the
    fixed-vocab coverage check (q206) and the fertility economics
    (q284) with the whole budget sweep.

    Count-table-of-counts idiom (the q41/q311 order-statistic
    discipline — NO global sort/window over the vocabulary, which at
    100 TB is ~10⁸ tokens): for each K the top-K token set is a COUNT
    THRESHOLD c* on the (count, n_tokens) spectrum plus a tie slice —
    covered = Σ_{c>c*} c·n_c + (K − n_above)·c*, all exact BIGINTs off
    the |distinct counts|-bounded spectrum; coverage_ppm is an exact
    integer division.

    Shape at 100 TB: one token-count pass (map-side combine), one
    spectrum rollup (|distinct counts| rows — thousands, not 10⁸),
    windows and the 4-point sweep on that bounded relation."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    spec = cnt.groupBy("c").agg(F.count("*").alias("nc"))
    w = W.orderBy(F.col("c").desc()).rowsBetween(W.unboundedPreceding, -1)
    cum = spec.select(
        "c",
        "nc",
        F.coalesce(F.sum("nc").over(w), F.lit(0)).alias("keys_above"),
        F.coalesce(
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * nc")).over(w),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("tokens_above"),
    )
    tot = spec.agg(
        F.sum("nc").alias("v_total"),
        F.expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * nc) AS DECIMAL(38,0))")
        .alias("n_total"),
    )
    ks = local_frame(spark, [(10,), (100,), (1000,), (65536,)], "k int")
    # per K: the threshold row is the spectrum value whose cumulative
    # key count first reaches K (keys_above < K ≤ keys_above + nc)
    hit = (
        cum.crossJoin(F.broadcast(ks))
        .filter(
            (F.col("keys_above") < F.col("k"))
            & (F.col("k") <= F.col("keys_above") + F.col("nc"))
        )
        .select(
            "k",
            (
                F.col("tokens_above")
                + (F.col("k") - F.col("keys_above"))
                * F.expr("CAST(c AS DECIMAL(38,0))")
            ).alias("covered"),
        )
    )
    # K beyond the whole vocabulary covers everything
    full = (
        ks.crossJoin(F.broadcast(tot))
        .filter(F.col("k") > F.col("v_total"))
        .select("k", F.col("n_total").alias("covered"))
    )
    return (
        hit.unionByName(full)
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.expr("CAST(least(CAST(k AS BIGINT), v_total) AS BIGINT)").alias(
                "vocab_used"
            ),
            F.col("covered").cast("long").alias("covered_tokens"),
            F.col("n_total").cast("long").alias("n_tokens"),
            F.expr("CAST((covered * 1000000) div n_total AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("k")
    )


_Q326_SQL = """
WITH cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY tok
), spec AS (
  SELECT c, CAST(count(*) AS BIGINT) AS nc FROM cnt GROUP BY c
), cum AS (
  SELECT c, nc,
         coalesce(sum(nc) OVER (ORDER BY c DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS keys_above,
         coalesce(sum(CAST(c AS HUGEINT) * nc) OVER (ORDER BY c DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             CAST(0 AS HUGEINT)) AS tokens_above
  FROM spec
), tot AS (
  SELECT CAST(sum(nc) AS BIGINT) AS v_total,
         CAST(sum(CAST(c AS HUGEINT) * nc) AS HUGEINT) AS n_total
  FROM spec
), ks AS (
  SELECT CAST(k AS INT) AS k FROM (VALUES (10), (100), (1000), (65536)) v(k)
), hit AS (
  SELECT ks.k,
         cum.tokens_above + (ks.k - cum.keys_above) * CAST(cum.c AS HUGEINT)
           AS covered
  FROM cum CROSS JOIN ks
  WHERE cum.keys_above < ks.k AND ks.k <= cum.keys_above + cum.nc
), funion AS (
  SELECT k, covered FROM hit
  UNION ALL
  SELECT ks.k, tot.n_total AS covered
  FROM ks CROSS JOIN tot WHERE ks.k > tot.v_total
)
SELECT f.k,
       CAST(least(CAST(f.k AS BIGINT), tot.v_total) AS BIGINT) AS vocab_used,
       CAST(f.covered AS BIGINT) AS covered_tokens,
       CAST(tot.n_total AS BIGINT) AS n_tokens,
       CAST((f.covered * 1000000) // tot.n_total AS BIGINT) AS coverage_ppm
FROM funion f CROSS JOIN tot
ORDER BY f.k
"""


def q329_source_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source doc-length percentiles (p25/p50/p90/p99) — the
    datasheet companion (q119 records volumes and language mix; this
    records the length SHAPE per source, the first thing a context-
    window/packing decision reads). True order statistics: the p-th
    lower percentile is the smallest length whose cumulative count
    reaches ceil(p·n/100) — never an interpolated approximation.

    Shape at 100 TB: the grouped-count-table idiom (q41/q311) — one
    corpus pass to the (source, length) count table, per-source
    cumulative windows on that bounded relation (|sources|·|lengths|
    rows, corpus-independent), each percentile one conditional min.
    No per-group sort of raw rows anywhere; ceil via the exact
    (p·n + 99) div 100 integer identity."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy(
        "source", F.length("text").alias("v")
    ).agg(F.count("*").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n_docs"))
    w = W.partitionBy("source").orderBy("v").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = cnt.select("source", "v", F.sum("c").over(w).alias("cum")).join(
        tot, "source"
    )

    def pct(p: int):
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n_docs + 99) div 100"),
                F.col("v"),
            )
        ).alias(f"p{p}")

    return (
        cum.groupBy("source")
        .agg(F.max("n_docs").alias("n_docs"), pct(25), pct(50), pct(90), pct(99))
        .orderBy("source")
    )


_Q329_SQL = """
WITH cnt AS (
  SELECT source, length(text) AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM cnt GROUP BY source
), cum AS (
  SELECT cnt.source, cnt.v,
         sum(cnt.c) OVER (PARTITION BY cnt.source ORDER BY cnt.v
             ROWS UNBOUNDED PRECEDING) AS cum,
         tot.n_docs
  FROM cnt JOIN tot USING (source)
)
SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN cum >= (25 * n_docs + 99) // 100 THEN v END)
            AS BIGINT) AS p25,
       CAST(min(CASE WHEN cum >= (50 * n_docs + 99) // 100 THEN v END)
            AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= (90 * n_docs + 99) // 100 THEN v END)
            AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= (99 * n_docs + 99) // 100 THEN v END)
            AS BIGINT) AS p99
FROM cum
GROUP BY source
ORDER BY source
"""


def q331_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law exponent fit V = K·N^β over the global 4-prefix
    vocabulary-growth curve (q157's nested hash prefixes, unkeyed) —
    the scaling-law number itself: β ≈ 0.5 is healthy natural text,
    β → 0 means the tail is template/duplicate mass, and the fit is
    what extrapolates tokenizer-vocabulary needs to the full corpus
    (the q326 budget curve's forward projection).

    Exactness: the four (N_p, V_p) points are exact integers; each log
    is the correctly-rounded ln (the only accepted float seam class)
    NANO-FLOORED per point BEFORE any cross-point sum, so the OLS
    moments are exact integers and beta_micro =
    ((nΣxy − ΣxΣy)·10⁶) div (nΣxx − (Σx)²) is a sign-split exact
    division (DECIMAL/HUGEINT — Σxy ~ (25e9)² · 4).

    Shape at 100 TB: the q157 shape — one word-stream shuffle into the
    (word, first-bucket) aggregate, everything after bounded by 4."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(
        "conv(substr(md5(cast(doc_id AS string)), 1, 8), 16, 10)"
    ).cast("long")
    base = docs.select(
        (h % 4).alias("bucket"),
        F.filter(
            F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
        ).alias("_w"),
    )
    toks = (
        base.groupBy("bucket")
        .agg(F.sum(F.size("_w")).alias("t"))
        .select(F.explode(F.sequence(F.col("bucket") + 1, F.lit(4))).alias("p"), "t")
        .groupBy("p")
        .agg(F.sum("t").alias("n_tokens"))
    )
    vocab = (
        base.select("bucket", F.explode("_w").alias("word"))
        .groupBy("word")
        .agg(F.min("bucket").alias("b0"))
        .select(F.explode(F.sequence(F.col("b0") + 1, F.lit(4))).alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("vocab"))
    )
    pts = (
        toks.join(vocab, "p")
        .filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
        .select(
            F.expr("CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e9) AS BIGINT)")
            .alias("x"),
            F.expr("CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1e9) AS BIGINT)")
            .alias("y"),
            "n_tokens",
            "vocab",
            "p",
        )
    )
    mom = pts.agg(
        F.count("*").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.max(F.when(F.col("p") == 4, F.col("n_tokens"))).alias("n_tokens_full"),
        F.max(F.when(F.col("p") == 4, F.col("vocab"))).alias("vocab_full"),
    )
    num = (
        "(CAST(n_points AS DECIMAL(38,0)) * sxy"
        " - CAST(sx AS DECIMAL(38,0)) * sy)"
    )
    den = (
        "(CAST(n_points AS DECIMAL(38,0)) * sxx"
        " - CAST(sx AS DECIMAL(38,0)) * sx)"
    )
    return mom.select(
        "n_points",
        "n_tokens_full",
        "vocab_full",
        F.expr(
            f"CASE WHEN {den} = 0 THEN CAST(NULL AS BIGINT)"
            f" WHEN {num} >= 0 THEN CAST(({num} * 1000000) div {den} AS BIGINT)"
            f" ELSE CAST(-((-({num}) * 1000000) div {den}) AS BIGINT) END"
        ).alias("beta_micro"),
    )


_Q331_SQL = """
WITH base AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4
           AS bucket,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
           AS w
  FROM documents
), toks AS (
  SELECT p, CAST(sum(t) AS BIGINT) AS n_tokens FROM (
    SELECT unnest(range(bucket + 1, 5)) AS p, t FROM (
      SELECT bucket, CAST(sum(len(w)) AS BIGINT) AS t FROM base GROUP BY bucket
    )
  ) GROUP BY p
), vocab AS (
  SELECT p, CAST(count(*) AS BIGINT) AS vocab FROM (
    SELECT unnest(range(b0 + 1, 5)) AS p FROM (
      SELECT word, min(bucket) AS b0 FROM (
        SELECT bucket, unnest(w) AS word FROM base
      ) GROUP BY word
    )
  ) GROUP BY p
), pts AS (
  SELECT CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e9) AS BIGINT) AS x,
         CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1e9) AS BIGINT) AS y,
         n_tokens, vocab, p
  FROM toks JOIN vocab USING (p)
  WHERE n_tokens > 0 AND vocab > 0
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(max(CASE WHEN p = 4 THEN n_tokens END) AS BIGINT)
           AS n_tokens_full,
         CAST(max(CASE WHEN p = 4 THEN vocab END) AS BIGINT) AS vocab_full
  FROM pts
)
SELECT n_points, n_tokens_full, vocab_full,
       CAST(CASE WHEN CAST(n_points AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx = 0 THEN NULL
            WHEN CAST(n_points AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                 >= 0 THEN
              ((CAST(n_points AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
               * 1000000)
              // (CAST(n_points AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
            ELSE
              -(((CAST(sx AS HUGEINT) * sy - CAST(n_points AS HUGEINT) * sxy)
                 * 1000000)
                // (CAST(n_points AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * sx))
            END AS BIGINT) AS beta_micro
FROM mom
"""


def q335_token_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-token RANK MOVERS between the two deterministic corpus
    halves (doc_id parity) — the leaderboard-drift view that
    complements magnitude drift (TVD q319, JS q211, keyness q212):
    which tokens ENTERED, EXITED, or moved inside the top-20, in rank
    units an operator reads at a glance (RBO q303 summarizes the same
    comparison to one number; this shows the movers).

    Exactness: per-half ranks are row_number over (count DESC, token)
    — fully deterministic ties; the full-outer join of the two 20-row
    lists yields ≤ 40 rows with exact integer ranks and deltas (NULL
    delta = entered/exited, the explicit sentinel).

    Shape at 100 TB: two map-side-combined token counts (one scan —
    the half key rides the same pass), each reduced by
    TakeOrdered-style limit(20) BEFORE any window; the join and
    ordering run on ≤ 40 rows."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("half", "tok")
        .agg(F.count("*").alias("c"))
    )

    def top(half: int, rname: str):
        w = W.orderBy(F.col("c").desc(), "tok")
        return (
            cnt.filter(F.col("half") == half)
            .orderBy(F.col("c").desc(), "tok")
            .limit(20)
            .withColumn(rname, F.row_number().over(w))
            .select("tok", rname)
        )

    a = top(0, "rank_a")
    b = top(1, "rank_b")
    return (
        a.join(b, "tok", "full_outer")
        .select(
            "tok",
            "rank_a",
            "rank_b",
            (F.col("rank_a") - F.col("rank_b")).alias("rank_delta"),
        )
        .orderBy("tok")
    )


_Q335_SQL = """
WITH cnt AS (
  SELECT half, tok, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT doc_id % 2 AS half,
           unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY 1, 2
), a AS (
  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS rank_a
  FROM cnt WHERE half = 0 ORDER BY c DESC, tok LIMIT 20
), b AS (
  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS rank_b
  FROM cnt WHERE half = 1 ORDER BY c DESC, tok LIMIT 20
)
SELECT coalesce(a.tok, b.tok) AS tok, a.rank_a, b.rank_b,
       CAST(a.rank_a - b.rank_b AS INT) AS rank_delta
FROM a FULL OUTER JOIN b ON a.tok = b.tok
ORDER BY tok
"""


def q356_distinct_n_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / distinct-2 lexical diversity per source (Li et al.
    2016's distinct-n, the standard repetitiveness gate a corpus or a
    generation run publishes): unique-unigram and unique-bigram counts
    over their token totals. Complements the WITHIN-document
    repetition audit (q45) and the windowed MATTR (q240) with the
    corpus-level ratio — a source can look clean per doc and still be
    one template stamped a million times, which only this cross-doc
    distinct ratio catches.

    Exactness: tokenization is the shared q338 discipline
    (lower → split \\s+ → drop empties); bigrams are the q139 guarded
    in-doc adjacency (no cross-doc phantom bigrams; <2-word docs emit
    none). All four counts are exact BIGINTs and each ratio is the
    exact integer (distinct·10⁶) div total, so every column is
    hash-stable. Sources with zero bigrams report NULL distinct2_ppm.

    Shape at 100 TB: two explode passes (unigram, bigram) each
    followed by a partial-aggregating distinct on (source, gram) —
    hash-only shuffles bounded by the vocabulary / bigram-vocabulary
    per source, never a pair join; the final join of the two per-
    source rollups is broadcast (|sources| rows)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.filter(
            F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
        ).alias("w"),
    )
    uni = (
        words.select("source", F.explode("w").alias("g"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_unigrams"),
            F.countDistinct("g").alias("n_distinct1"),
        )
    )
    bi = (
        words.select(
            "source",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 2 THEN"
                    " transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ',"
                    " element_at(w, i + 1)))"
                    " ELSE CAST(array() AS array<string>) END"
                )
            ).alias("g"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.countDistinct("g").alias("n_distinct2"),
        )
    )
    return (
        uni.join(bi, "source", "left")
        .select(
            "source",
            "n_unigrams",
            "n_distinct1",
            F.expr("(n_distinct1 * 1000000) div n_unigrams").alias(
                "distinct1_ppm"
            ),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_distinct2", F.lit(0)).alias("n_distinct2"),
            F.expr(
                "CASE WHEN coalesce(n_bigrams, 0) > 0 THEN"
                " (n_distinct2 * 1000000) div n_bigrams END"
            ).alias("distinct2_ppm"),
        )
        .orderBy("source")
    )


_Q356_SQL = r"""
WITH w AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
           AS w
  FROM documents
), uni AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_unigrams,
         CAST(count(DISTINCT g) AS BIGINT) AS n_distinct1
  FROM (SELECT source, unnest(w) AS g FROM w)
  GROUP BY source
), bi AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(count(DISTINCT g) AS BIGINT) AS n_distinct2
  FROM (
    SELECT source,
           unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS g
    FROM w
  )
  GROUP BY source
)
SELECT uni.source, n_unigrams, n_distinct1,
       CAST((n_distinct1 * 1000000) // n_unigrams AS BIGINT)
         AS distinct1_ppm,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(n_distinct2, 0) AS n_distinct2,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN CAST((n_distinct2 * 1000000) // n_bigrams AS BIGINT) END
         AS distinct2_ppm
FROM uni LEFT JOIN bi ON bi.source = uni.source
ORDER BY uni.source
"""


def q397_context_overflow_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window overflow decision table: for each candidate
    sequence length L ∈ {64, 128, 256, 512, 1024} whitespace tokens,
    the number and ppm share of docs that overflow L and the token
    mass lost to truncation (Σ max(0, tokens − L)) with its ppm share
    of the corpus — the table an operator reads to pick the training
    context length, exactly as q378 prices watermark delays and q326
    prices vocabulary sizes. Packing efficiency (q48/q262) assumes a
    length was CHOSEN; this is the chooser.

    Exactness: per-doc token counts are exact integers (the q19
    whitespace tokenizer: split on \\s+, empties dropped); every curve
    cell is an integer conditional sum over ONE shared count
    projection (the 5 candidates explode AFTER the per-doc count);
    ppm shares are exact integer (x·10⁶) div total.

    Shape at 100 TB: one narrow token-count projection (no explode of
    tokens — only size()), a 5-way candidate explode, and a map-side
    combined ≤5-row aggregate. No shuffle of raw text."""
    docs = load_table(spark, sf_dir, "documents")
    lengths = [64, 128, 256, 512, 1024]
    toks = docs.select(
        F.size(
            F.filter(
                F.split(F.col("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).cast("long").alias("tok")
    )
    curve = (
        toks.select(
            "tok",
            F.explode(
                F.array(*[F.lit(v).cast("long") for v in lengths])
            ).alias("max_len"),
        )
        .groupBy("max_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.expr("CASE WHEN tok > max_len THEN 1 ELSE 0 END"))
            .cast("long").alias("n_over"),
            F.sum("tok").cast("long").alias("tokens_total"),
            F.sum(F.expr("greatest(tok - max_len, 0L)"))
            .cast("long").alias("tokens_lost"),
        )
    )
    return curve.select(
        "max_len",
        "n_docs",
        "n_over",
        F.expr("(n_over * 1000000) div n_docs").alias("docs_over_ppm"),
        "tokens_lost",
        F.expr(
            "CASE WHEN tokens_total > 0 THEN"
            " (tokens_lost * 1000000) div tokens_total ELSE 0 END"
        ).alias("tokens_lost_ppm"),
    ).orderBy("max_len")


_Q397_SQL = r"""
WITH toks AS (
  SELECT CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS tok
  FROM documents
), curve AS (
  SELECT l.max_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN tok > l.max_len THEN 1 ELSE 0 END) AS BIGINT)
           AS n_over,
         CAST(sum(tok) AS BIGINT) AS tokens_total,
         CAST(sum(greatest(tok - l.max_len, 0)) AS BIGINT) AS tokens_lost
  FROM toks
  CROSS JOIN (SELECT unnest([64, 128, 256, 512, 1024]) AS max_len) l
  GROUP BY 1
)
SELECT CAST(max_len AS BIGINT) AS max_len, n_docs, n_over,
       (n_over * 1000000) // n_docs AS docs_over_ppm,
       tokens_lost,
       CASE WHEN tokens_total > 0 THEN
         (tokens_lost * 1000000) // tokens_total ELSE 0 END
         AS tokens_lost_ppm
FROM curve
ORDER BY max_len
"""
