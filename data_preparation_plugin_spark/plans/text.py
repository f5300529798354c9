"""Text-analysis capability queries over the ``documents`` table.

Driver mandate (BASELINE.json north star): language-ID, quality scoring,
token counting, document fingerprinting. All implemented with JVM-side
built-ins (split / higher-order array functions / regexp / md5) — no Python
UDFs in the hot path — so they stay inside whole-stage codegen and scale
linearly with input.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_preparation_plugin_spark.functions.text import exploded_shingles
from data_preparation_plugin_spark.functions.text import tokens as tokens_col
from data_preparation_plugin_spark.plans.registry import (
    int_ratio_round_sql,
    load_table,
    register,
)

#: Tiny per-language marker lexicons for the heuristic language-ID.
#: Deliberately simple (the reference has no NLP stack at all); the point is
#: a deterministic, SQL-expressible n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "y", "las"),
    "de": ("der", "die", "und", "das"),
    "zh": ("de5", "shi4", "le5", "he2"),
}

#: DuckDB twin of :func:`quality_pass_col`'s gate, over a list column
#: named ``tokens`` — ONE definition for every oracle that embeds the
#: quality gate (text_quality_score, the curation funnel family), so a
#: gate change is one edit on each engine side (r13 review).
QUALITY_GATE_SQL = (
    "len(tokens) BETWEEN 5 AND 1000 AND len(list_filter(tokens, t -> t IN ("
    + ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    + "))) * 1.0 / len(tokens) BETWEEN 0.001 AND 0.5"
)


@register(
    "text_token_count",
    category="text",
    bench=True,
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
           length(text)                                      AS n_chars_measured,
           n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        "n_chars",
    )


@register(
    "text_quality_score",
    category="text",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               text,
               string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    )
    SELECT doc_id,
           len(tokens)                                                  AS n_tokens,
           {int_ratio_round_sql("length(text)", "len(tokens)", 4, "//")}
               AS avg_token_len,
           {int_ratio_round_sql(
               "len(list_filter(tokens, t -> t IN ('the', 'a', 'of', 'and')))",
               "len(tokens)", 4, "//")}                                 AS stopword_ratio,
           {int_ratio_round_sql(
               "len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))",
               "length(text)", 4, "//")}                                AS punct_ratio,
           CASE WHEN {QUALITY_GATE_SQL}
                THEN 1 ELSE 0 END                                       AS quality_pass
    FROM toks
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: length, stopword ratio, punctuation ratio.

    The Gopher/C4-style prefilter shape for LLM corpora: cheap per-row
    signals + a pass/fail gate, all vectorized built-ins.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    )
    punct = F.size(F.regexp_extract_all("text", F.lit("[^a-zA-Z0-9 ]"), F.lit(0)))
    # All three ratios are rationals of INTEGER counts; round them in
    # exact integer arithmetic (registry.int_ratio_round_sql) — a
    # decimal-half value diverges between the engines' round() (the
    # classifier-score lesson, r14 sf0.1 drive).
    counted = docs.select(
        "doc_id",
        F.length("text").alias("n_text_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        stop.alias("n_stop"),
        punct.alias("n_punct"),
        quality_pass_col(toks).alias("quality_pass"),
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        F.expr(
            int_ratio_round_sql("n_text_chars", "n_tokens", 4, "div")
        ).alias("avg_token_len"),
        F.expr(
            int_ratio_round_sql("n_stop", "n_tokens", 4, "div")
        ).alias("stopword_ratio"),
        F.expr(
            int_ratio_round_sql("n_punct", "n_text_chars", 4, "div")
        ).alias("punct_ratio"),
        "quality_pass",
    )


def _lang_score(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def quality_pass_col(toks: Column) -> Column:
    """The Gopher/C4-style keep gate: token-count + stopword-ratio bounds.

    Shared by :func:`text_quality_score` and the end-to-end curation
    pipeline (``plans/curation.py``) so the gate cannot drift between the
    per-signal report and the corpus filter.
    """
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"])))
        * F.lit(1.0)
        / n_tokens
    )
    return (
        F.when(n_tokens.between(5, 1000) & stop_ratio.between(0.001, 0.5), 1)
        .otherwise(0)
    )


def predicted_lang_col(toks: Column) -> Column:
    """Marker-lexicon language prediction with 'en'-first deterministic ties.

    Built lowest-priority-first so the highest-priority language wins ties;
    shared by :func:`text_langid` and the curation pipeline.
    """
    scores = {lang: _lang_score(toks, m) for lang, m in LANG_MARKERS.items()}
    order = list(LANG_MARKERS)
    predicted = F.lit("und")
    for i in range(len(order) - 1, -1, -1):
        lang = order[i]
        cond = scores[lang] > 0
        for later in order[i + 1 :]:
            cond = cond & (scores[lang] >= scores[later])
        predicted = F.when(cond, lang).otherwise(predicted)
    return predicted


@register(
    "text_langid",
    category="text",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), scored AS (
        SELECT doc_id, lang,
               len(list_filter(tokens, t -> t IN ('the','a','of','and')))   AS score_en,
               len(list_filter(tokens, t -> t IN ('le','la','et','les')))   AS score_fr,
               len(list_filter(tokens, t -> t IN ('el','los','y','las')))   AS score_es,
               len(list_filter(tokens, t -> t IN ('der','die','und','das'))) AS score_de,
               len(list_filter(tokens, t -> t IN ('de5','shi4','le5','he2'))) AS score_zh
        FROM toks
    )
    SELECT doc_id, lang,
           CASE WHEN score_en >= score_fr AND score_en >= score_es
                 AND score_en >= score_de AND score_en >= score_zh AND score_en > 0 THEN 'en'
                WHEN score_fr >= score_es AND score_fr >= score_de
                 AND score_fr >= score_zh AND score_fr > 0 THEN 'fr'
                WHEN score_es >= score_de AND score_es >= score_zh AND score_es > 0 THEN 'es'
                WHEN score_de >= score_zh AND score_de > 0 THEN 'de'
                WHEN score_zh > 0 THEN 'zh'
                ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID with a deterministic priority tiebreak.

    Real corpora would use character n-gram profiles (same shape: score per
    language, argmax); the fixed priority order makes ties deterministic so
    the oracle can hash-match.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id", "lang", predicted_lang_col(toks).alias("predicted_lang")
    )


@register(
    "text_top_terms",
    category="text",
    oracle=r"""
    SELECT token, n_occurrences, n_docs
    FROM (
        SELECT token,
               count(*)                 AS n_occurrences,
               count(DISTINCT doc_id)   AS n_docs
        FROM (
            SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
            FROM documents
        )
        GROUP BY token
    )
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequency + document frequency, top 20 terms.

    explode -> two-level aggregate; partial aggregation keeps the shuffle
    proportional to vocabulary size, not corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "text_tfidf",
    category="text",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM tok GROUP BY doc_id, token
    ), df AS (
        SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           round(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    WHERE tf.tf >= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (document, term) for terms with tf >= 3.

    Two aggregations sharing one explode: term frequency per (doc, token)
    and document frequency per token. df is vocabulary-sized, so it
    broadcasts; the corpus size joins in as a literal-sized (1-row)
    broadcast too. No floats decide row membership — tf >= 3 is integral —
    so the rounded tfidf value can't flip rows across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.filter(F.col("tf") >= 3)
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )


@register(
    "text_bpe_token_count",
    scale_note="0.2s denominator; zero-shuffle regex map",
    category="text",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
               AS n_subword_tokens,
           len(string_split_regex(trim(lower(text)), '\s+')) AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenizer count: alnum runs + individual punctuation marks.

    The pre-tokenization regex real BPE vocabularies apply before merges
    (GPT-2 style \\w+|punct splitting) — the right denominator for
    tokens-per-document budgeting of LLM training data, alongside the
    naive whitespace count.

    Cost (SCALE_PROBE_r12): ×3.1 on a 0.23s ×1 denominator (0.71s
    absolute at ×8) — a zero-shuffle regex map; the ratio is fixed task
    overhead vanishing past the 32-core floor, sub-linear in the ×8
    input.
    """
    docs = load_table(spark, sf_dir, "documents")
    pattern = r"[a-z0-9]+|[^a-z0-9\s]"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(pattern), F.lit(0)))
        .cast("long")
        .alias("n_subword_tokens"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )


@register(
    "text_winnowing_fingerprints",
    category="text",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT doc_id,
               generate_subscripts(sh, 1) - 1 AS pos,
               unnest(sh) AS shingle,
               len(sh) AS total
        FROM (
            SELECT doc_id,
                   CASE WHEN len(tokens) >= 3
                        THEN list_transform(range(1, len(tokens) - 1),
                             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])
                        ELSE [array_to_string(tokens, ' ')] END AS sh
            FROM toks
        )
    ), hashed AS (
        SELECT doc_id, pos, total, md5(shingle) AS h FROM shingled
    ), windowed AS (
        SELECT doc_id, pos, total,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM hashed
    )
    SELECT DISTINCT doc_id, wmin AS fingerprint
    FROM windowed
    WHERE pos >= 3 OR pos = total - 1
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints: distinct minima of a rolling hash window.

    The Schleimer/Wilkerson/Aiken local-fingerprinting algorithm (the
    MOSS/rolling-hash dedup shape): hash every 3-token shingle, slide a
    4-hash window, keep each window's minimum, dedup. Guarantees any
    sufficiently long shared substring yields a shared fingerprint, at
    ~1/(w+1) the storage of full shingle sets. One shuffle on doc_id for
    the window; docs shorter than the window keep their final
    partial-window minimum so every document fingerprints.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    from data_preparation_plugin_spark.functions.text import shingles_from_tokens

    shingled = toks.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("__toks"), 3)).alias(
            "pos", "shingle"
        ),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-3, Window.currentRow)
    )
    counts = Window.partitionBy("doc_id")
    return (
        shingled.select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(counts).alias("total"),
            F.min(F.md5("shingle")).over(win).alias("wmin"),
        )
        .filter((F.col("pos") >= 3) | (F.col("pos") == F.col("total") - 1))
        .select("doc_id", F.col("wmin").alias("fingerprint"))
        .distinct()
    )


@register(
    "text_bigrams",
    category="text",
    oracle=r"""
    SELECT bigram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
    FROM (
        SELECT doc_id, unnest(
            CASE WHEN len(tokens) >= 2
                 THEN list_transform(range(1, len(tokens)),
                                     i -> tokens[i] || ' ' || tokens[i+1])
                 ELSE [] END
        ) AS bigram
        FROM (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS tokens
            FROM documents
        )
    )
    GROUP BY bigram
    HAVING count(*) >= 5
    """,
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram (2-gram) frequencies with document frequency.

    Same tokenize-once-below-the-Generate discipline as the shingle
    pipeline (HOF lambdas are interpreted: materialize inputs in a
    Project under the explode). HAVING >= 5 keeps output keyed on a
    bounded vocabulary, the same reason TF-IDF prunes rare terms.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("tokens"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tokens") >= 2,
                F.transform(
                    F.slice("tokens", 1, F.size("tokens") - 1),
                    lambda _, i: F.concat_ws(
                        " ",
                        F.element_at("tokens", i + 1),
                        F.element_at("tokens", i + 2),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("bigram"),
    )
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 5)
    )


@register(
    "text_repetition_ratio",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), counts AS (
        SELECT doc_id, token, count(*) AS c
        FROM tok
        GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)                   AS n_tokens,
           count(*)                                 AS n_distinct_tokens,
           {int_ratio_round_sql("count(*)", "sum(c)", 4, "//")}
               AS type_token_ratio,
           {int_ratio_round_sql("max(c)", "sum(c)", 4, "//")}
               AS top_token_share
    FROM counts
    GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style rep filters).

    Low type-token ratio or a single token dominating the document are
    the classic boilerplate/spam markers LLM corpora filter on. Shape:
    explode -> (doc, token) count -> per-doc merge. Both aggregations
    key on values with bounded per-doc cardinality, partial aggregation
    does the heavy lifting map-side, and the text itself never shuffles
    — the same plan at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    counts = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    distinct = F.count(F.lit(1))
    # Integer counts: exact-integer 4-decimal rounding (half ties
    # diverge between engines' round(); registry helper).
    return (
        counts.groupBy("doc_id")
        .agg(
            total.cast("long").alias("n_tokens"),
            distinct.alias("n_distinct_tokens"),
            F.max("c").alias("__top_c"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            F.expr(
                int_ratio_round_sql("n_distinct_tokens", "n_tokens", 4, "div")
            ).alias("type_token_ratio"),
            F.expr(
                int_ratio_round_sql("__top_c", "n_tokens", 4, "div")
            ).alias("top_token_share"),
        )
    )


#: RE2-and-Java-compatible patterns (identical semantics in both engines).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


@register(
    "text_scrub_pii",
    category="text",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact_' || CAST(doc_id AS VARCHAR)
                    || '@example.com http://site'
                    || CAST(doc_id % 7 AS VARCHAR) || '.example.org'
                   AS raw
        FROM documents
    ), scrubbed AS (
        SELECT doc_id, raw,
               regexp_replace(
                   regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{URL_RE}', '<URL>', 'g') AS clean
        FROM enriched
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{EMAIL_RE}'))  AS n_emails,
           len(regexp_extract_all(raw, '{URL_RE}'))    AS n_urls,
           length(raw)                                 AS chars_before,
           length(clean)                               AS chars_after,
           md5(clean)                                  AS clean_fingerprint
    FROM scrubbed
    """,
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails and URLs replaced with placeholder tokens.

    The corpus-hygiene scrub every released dataset runs. The fixture text
    contains no PII, so the query *injects* one deterministic email + URL
    per document before scrubbing — the redaction path is exercised on
    every row, and the oracle verifies counts, before/after lengths, and
    an md5 fingerprint of the scrubbed text (so a single missed character
    hash-fails). Pure per-row projection: zero shuffles at any scale;
    patterns are RE2-and-Java compatible so both engines agree.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact_"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com http://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(URL_RE), F.lit(0)))
        .cast("long")
        .alias("n_urls"),
        F.length(raw).cast("long").alias("chars_before"),
        F.length(clean).cast("long").alias("chars_after"),
        F.md5(clean).alias("clean_fingerprint"),
    )


@register(
    "text_gopher_repetition",
    category="text",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, length(text) AS n_chars,
               string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), grams AS (
        SELECT doc_id, n_chars, 2 AS n, unnest(
            CASE WHEN len(tokens) >= 2
                 THEN list_transform(range(1, len(tokens)),
                                     i -> tokens[i] || ' ' || tokens[i+1])
                 ELSE [] END) AS gram
        FROM toks
        UNION ALL
        SELECT doc_id, n_chars, 3, unnest(
            CASE WHEN len(tokens) >= 3
                 THEN list_transform(range(1, len(tokens) - 1),
                                     i -> tokens[i] || ' ' || tokens[i+1]
                                          || ' ' || tokens[i+2])
                 ELSE [] END)
        FROM toks
    ), counts AS (
        SELECT doc_id, n_chars, n, gram, length(gram) AS gram_chars,
               count(*) AS c
        FROM grams
        GROUP BY ALL
    )
    SELECT doc_id,
           max(CASE WHEN n = 2 THEN c * gram_chars ELSE 0 END)
               * 1.0 / min(n_chars)  AS top_bigram_char_frac,
           sum(CASE WHEN n = 3 AND c > 1 THEN c * gram_chars ELSE 0 END)
               * 1.0 / min(n_chars)  AS dup_trigram_char_frac
    FROM counts
    GROUP BY doc_id
    """,
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style n-gram repetition fractions per document.

    The two remaining repetition rules from the Gopher corpus-filtering
    recipe (Rae et al. 2021, §A1.1) that ``text_repetition_ratio``'s
    unigram stats don't capture: the character share of the dominant
    bigram, and the character share locked up in *duplicated* trigrams.
    Ties on the dominant bigram are made deterministic by maximizing the
    char-occupancy product ``count * len(gram)`` directly (the quantity
    the rule thresholds anyway). One tokenize, two gram explodes, two
    bounded-key aggregations — the text column never shuffles, numerators
    are exact integers, and the single final division happens identically
    in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        tokens_col(F.col("text")).alias("tokens"),
    )

    def tagged(n: int):
        windows = F.transform(
            F.slice("tokens", 1, F.size("tokens") - (n - 1)),
            lambda _, i: F.concat_ws(
                " ", *[F.element_at("tokens", i + 1 + off) for off in range(n)]
            ),
        )
        safe = F.when(F.size("tokens") >= n, windows).otherwise(F.array())
        return F.transform(
            safe, lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))
        )

    # Both gram sizes ride one Generate off one scan (a union of per-size
    # branches would scan the text twice — no CSE across union arms).
    counts = (
        toks.select(
            "doc_id",
            "n_chars",
            F.explode(F.concat(tagged(2), tagged(3))).alias("g"),
        )
        .select("doc_id", "n_chars", F.col("g.n").alias("n"),
                F.col("g.gram").alias("gram"))
        .groupBy("doc_id", "n_chars", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("gram_chars", F.length("gram"))
    )
    occupancy = F.col("c") * F.col("gram_chars")
    # Raw quotients, deliberately unrounded: both engines divide the same
    # exact integers, so the doubles are bit-identical — rounding is the
    # only step that could diverge (shortest-repr vs binary halfway ties).
    return counts.groupBy("doc_id").agg(
        (
            F.max(F.when(F.col("n") == 2, occupancy).otherwise(0))
            * F.lit(1.0)
            / F.min("n_chars")
        ).alias("top_bigram_char_frac"),
        (
            F.sum(
                F.when((F.col("n") == 3) & (F.col("c") > 1), occupancy)
                .otherwise(0)
            )
            * F.lit(1.0)
            / F.min("n_chars")
        ).alias("dup_trigram_char_frac"),
    )


#: Deterministic URL synthesis + canonicalization, shared between
#: ``text_url_canonicalize`` and ``dedup_url_keep_best`` (plans/dedup.py)
#: so the two stages can never drift. SQL and Column forms are twins.
URL_SYNTH_SQL = """
        SELECT doc_id,
               'https://'
               || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
               || source || '-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.org/page/' || CAST(doc_id % 40 AS VARCHAR)
               || CASE WHEN doc_id % 5 = 0
                       THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END AS url
        FROM documents
"""

URL_CANON_SQL = r"""
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(url, '^https?://', ''),
                           '^www\.', ''),
                       '\?.*$', ''),
                   '/$', '') AS canonical_url
"""


def synth_url_col() -> Column:
    """The closed-form fake URL per document (Spark twin of URL_SYNTH_SQL)."""
    k = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.when(k % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit("-"),
        (k % 7).cast("string"),
        F.lit(".example.org/page/"),
        (k % 40).cast("string"),
        F.when(
            k % 5 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), k.cast("string")),
        ).otherwise(F.lit("")),
        F.when(k % 11 == 0, F.lit("/")).otherwise(F.lit("")),
    )


def canonical_url_col(url: Column) -> Column:
    """Scheme/www/query/trailing-slash strip (Spark twin of URL_CANON_SQL)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(url, r"^https?://", ""), r"^www\.", ""
            ),
            r"\?.*$",
            "",
        ),
        r"/$",
        "",
    )


@register(
    "text_url_canonicalize",
    category="text",
    oracle=f"""
    WITH urls AS ({URL_SYNTH_SQL}
    ), canon AS (
        SELECT doc_id,
               {URL_CANON_SQL}
        FROM urls
    )
    SELECT regexp_extract(canonical_url, '^([^/]+)', 1) AS host,
           count(*)                        AS n_docs,
           count(DISTINCT canonical_url)   AS n_distinct_pages
    FROM canon
    GROUP BY host
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host-level duplicate accounting.

    The web-corpus prep step before any URL-keyed dedup: strip scheme,
    ``www.`` prefix, query string (tracking parameters), and trailing
    slash, then aggregate per host. URLs are synthesized from doc keys in
    closed form (the fixture carries no URL column) — the operator under
    test is the canonicalization chain itself, four sequential
    ``regexp_replace`` passes kept RE2-and-Java compatible so both
    engines rewrite identically. ``n_docs - n_distinct_pages`` per host
    is exactly the duplicate mass an URL-level dedup would remove.
    """
    docs = load_table(spark, sf_dir, "documents")
    canon = docs.select(
        canonical_url_col(synth_url_col()).alias("canonical_url")
    )
    return (
        canon.groupBy(
            F.regexp_extract("canonical_url", r"^([^/]+)", 1).alias("host")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_url").alias("n_distinct_pages"),
        )
    )


#: Sliding-window chunking: window size and stride in tokens.
CHUNK_SIZE = 32
CHUNK_STRIDE = 24


@register(
    "text_chunk_sliding",
    category="text",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), spans AS (
        SELECT doc_id, tokens, len(tokens) AS n,
               unnest(range(0,
                   CASE WHEN len(tokens) <= {CHUNK_SIZE} THEN 1
                        ELSE CAST(floor((len(tokens) - {CHUNK_SIZE}
                                         + {CHUNK_STRIDE} - 1)
                                        / {CHUNK_STRIDE}) AS BIGINT) + 1
                   END)) AS chunk_idx
        FROM toks
    )
    SELECT doc_id,
           chunk_idx,
           chunk_idx * {CHUNK_STRIDE} + 1 AS chunk_start,
           CAST(len(list_slice(tokens, chunk_idx * {CHUNK_STRIDE} + 1,
                    least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}, n)))
                AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
               list_slice(tokens, chunk_idx * {CHUNK_STRIDE} + 1,
                          least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}, n)),
               ' ')) AS chunk_hash
    FROM spans
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: overlapping fixed-size token windows.

    The RAG / long-context preprocessing step: each document becomes
    ceil-div overlapping chunks of {CHUNK_SIZE} tokens at stride
    {CHUNK_STRIDE} (8-token overlap), short docs one chunk. All HOF array
    ops below a single Generate — ``sequence`` for the chunk offsets,
    ``slice`` for the window, md5 of the joined window as the chunk
    fingerprint — so chunking is a zero-shuffle projection at any corpus
    size, and the hash makes any off-by-one in the window boundaries a
    hard driver failure.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tokens")
    )
    n = F.size("tokens")
    n_chunks = (
        F.when(n <= CHUNK_SIZE, F.lit(1).cast("long"))
        .otherwise(
            F.floor(
                (n - CHUNK_SIZE + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)
            ).cast("long")
            + 1
        )
    )
    spans = toks.select(
        "doc_id",
        "tokens",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE + 1
    length = F.least(
        F.lit(CHUNK_SIZE).cast("long"), F.col("n") - start + 1
    )
    window = F.slice("tokens", start, length)
    return spans.select(
        "doc_id",
        "chunk_idx",
        start.alias("chunk_start"),
        F.size(window).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(window, " ")).alias("chunk_hash"),
    )


#: Vocabulary size for the token-id mapping demo; production vocabs are
#: 32k-256k but the plan shape (bounded top-V + broadcast map) is identical.
VOCAB_SIZE = 300


@register(
    "text_vocab_ids",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token,
               generate_subscripts(
                   string_split_regex(trim(lower(text)), '\s+'), 1) AS pos
        FROM documents
    ), counts AS (
        SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), vocab AS (
        SELECT token,
               row_number() OVER (ORDER BY cnt DESC, token) AS token_id
        FROM (SELECT * FROM counts ORDER BY cnt DESC, token LIMIT {VOCAB_SIZE})
    )
    SELECT t.doc_id,
           count(*)          AS n_tokens,
           count(v.token_id) AS n_in_vocab,
           COALESCE(array_to_string(
               list(v.token_id ORDER BY t.pos)
                   FILTER (WHERE v.token_id IS NOT NULL), ','), '')
               AS token_ids
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def text_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + document token-id encoding.

    The tokenizer-prep primitive: build the top-V vocabulary (count desc,
    token asc — a deterministic total order) with dense ids, then encode
    every document as its in-vocab token-id sequence, order-preserving.
    The vocab is V rows — broadcast to the encode join, so the corpus
    side never shuffles on token; the id sequence is reassembled with an
    in-row sort (``array_sort`` of (pos, id) structs), not a window. At
    100 TB the only wide exchange is the token-count aggregate, which is
    map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    tok = toks.select(
        "doc_id", F.posexplode("__toks").alias("pos", "token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), "token")
    vocab = (
        counts.orderBy(F.desc("cnt"), "token")
        .limit(VOCAB_SIZE)
        .withColumn("token_id", F.row_number().over(w).cast("bigint"))
        .select("token", "token_id")
    )
    mapped = tok.join(F.broadcast(vocab), "token", "left")
    # Comma-joined id sequence (driver-hashable; "" when no token is
    # in-vocab — the oracle COALESCEs its NULL list to match, per the
    # DuckDB `list(...) FILTER` empty-group semantics).
    return mapped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("token_id").alias("n_in_vocab"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("token_id").isNotNull(),
                            F.struct("pos", "token_id"),
                        )
                    )
                ),
                lambda x: x.getField("token_id").cast("string"),
            ),
            ",",
        ).alias("token_ids"),
    )


#: Number of candidate merges reported by the BPE pair-count step.
BPE_TOP_MERGES = 20


@register(
    "text_bpe_merge_step",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), pairs AS (
        SELECT unnest(list_transform(
                   range(1, length(token)),
                   i -> substr(token, CAST(i AS INT), 2))) AS pair
        FROM tok WHERE length(token) >= 2
    ), counted AS (
        SELECT pair, count(*) AS pair_count FROM pairs GROUP BY pair
    )
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair)
                AS BIGINT) AS merge_rank
    FROM (SELECT * FROM counted
          ORDER BY pair_count DESC, pair LIMIT {BPE_TOP_MERGES})
    """,
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE training step: corpus-wide adjacent-pair counts.

    BPE training is iterated "count all adjacent symbol pairs, merge the
    most frequent" — the count step is the part that must scale to the
    corpus. Pairs are generated in-row with a higher-order function over
    the character positions (no Python, no per-char explode of
    intermediate state), then one map-side-combinable count feeds a
    bounded top-k. Ties break on the pair itself so the chosen merge is
    reproducible across cluster sizes — a real requirement for tokenizer
    training. Subsequent iterations re-run the same shape over the
    re-segmented corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(tokens_col(F.col("text"))).alias("token")
    ).filter(F.length("token") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("pair_count")
    )
    w = Window.orderBy(F.desc("pair_count"), "pair")
    return (
        counted.orderBy(F.desc("pair_count"), "pair")
        .limit(BPE_TOP_MERGES)
        .withColumn("merge_rank", F.row_number().over(w).cast("bigint"))
    )


@register(
    "text_unigram_logprob",
    category="text",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), counts AS (
        SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), total AS (
        SELECT sum(cnt) AS n FROM counts
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(ln(c.cnt)) - ln(max(total.n)), 4) AS avg_logprob
    FROM tok t
    JOIN counts c ON t.token = c.token
    CROSS JOIN total
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score per document.

    The KenLM-style perplexity filter reduced to its distributed skeleton:
    corpus unigram counts, then each document scored by its mean token
    log-probability ``avg(ln(cnt)) - ln(N)`` (algebraically identical to
    ``avg(ln(cnt/N))`` but the corpus total N stays out of the per-token
    path — one scalar subtraction per doc instead of a per-token divide).
    Two shuffles (token counts, per-doc aggregate); the count join is a
    plain equi-join that AQE sizes, and the scalar total rides a 1-row
    broadcast cross join. A real deployment swaps in KenLM shards via
    mapInPandas; the data movement — the expensive part — is this exact
    shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    tok = toks.select("doc_id", F.explode("__toks").alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n"))
    return (
        tok.join(counts, "token")
        .crossJoin(total)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log("cnt")) - F.log(F.max("n")), 4
            ).alias("avg_logprob"),
        )
    )


@register(
    "text_token_entropy",
    category="text",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS c
        FROM tok GROUP BY doc_id, token
    ), sized AS (
        SELECT doc_id, token, c,
               sum(c) OVER (PARTITION BY doc_id) AS n
        FROM tf
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT)    AS n_tokens,
           CAST(count(*) AS BIGINT)  AS n_distinct_tokens,
           round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 4) AS token_entropy
    FROM sized
    GROUP BY doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document token entropy: the lexical-diversity quality signal.

    Low entropy flags repetitive/template/spam documents (the
    information-theoretic cousin of ``text_repetition_ratio``; CCNet uses
    the same idea via LM perplexity). Two-level aggregate: per-(doc, token)
    counts, then a per-doc window for the total and the entropy sum — the
    window and final collapse reuse the doc partitioning, and both
    aggregates are map-side combinable. Identical expression tree in both
    engines; the 4dp round absorbs summation-order ulps exactly as the kNN
    scores do.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    tf = (
        toks.select("doc_id", F.explode("__toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sized = tf.withColumn(
        "n", F.sum("c").over(Window.partitionBy("doc_id"))
    )
    p = F.col("c") * 1.0 / F.col("n")
    return sized.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
        F.round(-F.sum(p * F.log(p)), 4).alias("token_entropy"),
    )


#: Hashed-feature dimension for the linear quality classifier.
CLS_BUCKETS = 64


def cls_bucket(tok: Column) -> Column:
    """Feature-hash bucket id of a token (md5-derived, oracle-twinned)."""
    return F.pmod(
        F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long"),
        F.lit(CLS_BUCKETS),
    )


def cls_weight_int(bucket: Column) -> Column:
    """Integer classifier weight of a bucket, in [-32, 31] (divide by
    ``CLS_BUCKETS`` for the real-valued weight; kept integral so
    cross-row accumulation is exact in any summation order)."""
    return (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long"),
            F.lit(CLS_BUCKETS),
        )
        - F.lit(CLS_BUCKETS // 2)
    )


#: Classifier score = round(num / (CLS_BUCKETS * n_tokens), 4), computed
#: in EXACT INTEGER arithmetic (half away from zero) because the rational
#: can land exactly on a decimal half where Spark's decimal HALF_UP and
#: DuckDB's binary-double round diverge — caught by the r14 sf0.1
#: full-registry drive (doc 2440: 0.0863 vs 0.0862). The one float op is
#: the final /10000 of the SAME integer in both engines. ``div`` is the
#: engine's integer-division token (Spark ``div``, DuckDB ``//``); both
#: floor, and the CASE keeps numerators non-negative so floor == truncate.
def cls_score_sql(div: str, n: str = "n_tokens") -> str:
    """The shared score expression for one engine's integer-div token."""
    from data_preparation_plugin_spark.plans.registry import (
        int_ratio_round_sql,
    )

    return int_ratio_round_sql("num", f"{CLS_BUCKETS} * {n}", 4, div)


def classifier_scored(docs: DataFrame, *carry: str) -> DataFrame:
    """doc_id [+ carry cols] -> n_tokens + linear classifier score.

    The shared scoring core of ``text_quality_classifier`` and the
    adaptive-threshold curation gate; ``carry`` columns (functionally
    dependent on doc_id, e.g. ``lang``) ride the aggregation keys.
    """
    keys = ["doc_id", *carry]
    exploded = docs.select(
        *keys, F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    feat = exploded.groupBy(*keys, cls_bucket(F.col("tok")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    weighted = feat.groupBy(*keys).agg(
        F.sum(F.col("cnt") * cls_weight_int(F.col("bucket"))).alias("num"),
        F.sum("cnt").alias("n_tokens"),
    )
    return weighted.select(
        *keys,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("num").alias("num"),
        F.expr(cls_score_sql("div")).alias("score"),
    )


@register(
    "text_quality_classifier",
    category="text",
    bench=True,
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ), feat AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 4))::BIGINT % {CLS_BUCKETS} AS bucket,
               count(*) AS cnt
        FROM tok
        GROUP BY doc_id, bucket
    ), weighted AS (
        SELECT doc_id,
               sum(cnt * (('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 4))::BIGINT
                          % {CLS_BUCKETS} - {CLS_BUCKETS // 2})) AS num,
               sum(cnt) AS n_tokens
        FROM feat
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {cls_score_sql("//")} AS score,
           CASE WHEN num > 0 THEN 1 ELSE 0 END AS keep_label
    FROM weighted
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier scoring (fasttext-serving shape).

    The standard LLM-corpus quality-classifier deployment: a trained
    linear model over hashed bag-of-words features, applied corpus-wide.
    Tokens hash into ``CLS_BUCKETS`` buckets (feature hashing / the
    "hashing trick"), each bucket carries a weight, and the document score
    is the mean feature weight. Weights here are derived deterministically
    from md5 so the oracle can recompute them — swapping in real trained
    weights is a one-line change (broadcast array literal), the plan shape
    is identical.

    Determinism: weights are integers in [-32, 31] divided by 64, so the
    per-document accumulator sum(cnt * w_int) is INTEGER arithmetic —
    exact, order-immune, engine-agnostic — and the 4-decimal score
    rounding is ALSO integer arithmetic (``cls_score_sql``): the
    rational num/(64·n) can land exactly on a decimal half, where
    Spark's decimal HALF_UP and DuckDB's binary-double round diverge
    (found by the r14 sf0.1 full-registry drive). The only float op is
    the final /10000 of the same integer in both engines.

    Scale shape: explode → two-level hash aggregation, both
    map-side-combinable; only (doc_id, bucket_int, count) rows shuffle
    (at most ``CLS_BUCKETS`` per document regardless of length). The
    weight lookup is a pure expression on the bucket id — in a real
    deployment an ``element_at(lit(weights), bucket+1)`` over a broadcast
    literal array, never a join. Everything stays in whole-stage codegen;
    no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = classifier_scored(docs)
    return scored.select(
        "doc_id",
        "n_tokens",
        "score",
        F.when(F.col("num") > 0, 1).otherwise(0).alias("keep_label"),
    )


#: Add-alpha smoothing for `text_bigram_logprob`, as (numerator,
#: denominator) of a rational so both engines divide identically once.
BIGRAM_ALPHA_NUM = 1
BIGRAM_ALPHA_DEN = 2


@register(
    "text_bigram_logprob",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, token,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY pos) AS pos
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS token,
                   generate_subscripts(
                       string_split_regex(trim(lower(text)), '\s+'), 1)
                       AS pos
            FROM documents)
    ), bg AS (
        SELECT a.doc_id, a.token AS w1, b.token AS w2
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), c2 AS (
        SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT token AS w1, count(*) AS cnt1 FROM tok GROUP BY token
    ), v AS (
        SELECT count(DISTINCT token) AS vocab FROM tok
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln((c2.cnt2 * {BIGRAM_ALPHA_DEN}
                         + {BIGRAM_ALPHA_NUM})
                        * 1.0
                        / (c1.cnt1 * {BIGRAM_ALPHA_DEN}
                           + {BIGRAM_ALPHA_NUM} * v.vocab))), 4)
               AS avg_logprob
    FROM bg
    JOIN c1 ON bg.w1 = c1.w1
    JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
    CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-α bigram language-model score per document.

    The next step up from ``text_unigram_logprob``: corpus bigram and
    unigram counts train a smoothed conditional model
    P(w2|w1) = (c(w1,w2)+α) / (c(w1)+α·V), and each document is scored
    by its mean bigram log-probability — the perplexity-filter signal
    that separates fluent text from shuffled-token spam, which unigram
    frequency alone cannot (same tokens, same unigram score). α = 1/2 is
    applied as integer scaling (2·c+1 over 2·c+V·1… times the shared ½)
    so both engines form the SAME rational before the one float divide.

    Scale shape: bigrams come from one window ``lead`` over the
    tokenized stream (per-doc partitions — no self-join; the oracle's
    pos-join is DuckDB-side only); counts are two map-side-combinable
    aggregates; the model join is bigram-keyed equi-join (AQE sizes it).
    The broadcast top-K + unigram-backoff deployment of the same model
    is implemented as ``text_bigram_backoff_score``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    tok = toks.select(
        "doc_id", F.posexplode("__toks").alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        F.col("token").alias("w1"),
        F.lead("token").over(w).alias("w2"),
    ).where(F.col("w2").isNotNull())
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = tok.groupBy(F.col("token").alias("w1")).agg(
        F.count(F.lit(1)).alias("cnt1")
    )
    v = tok.agg(F.countDistinct("token").alias("vocab"))
    scored = (
        bg.join(c1, "w1")
        .join(c2, ["w1", "w2"])
        .crossJoin(v)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (
                            F.col("cnt2") * BIGRAM_ALPHA_DEN
                            + BIGRAM_ALPHA_NUM
                        )
                        * F.lit(1.0)
                        / (
                            F.col("cnt1") * BIGRAM_ALPHA_DEN
                            + BIGRAM_ALPHA_NUM * F.col("vocab")
                        )
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
    )
    return scored


#: Model size and backoff weight for `text_bigram_backoff_score`: only the
#: BACKOFF_TOPK most frequent bigrams ship to executors; everything else
#: backs off to BACKOFF_NUM/BACKOFF_DEN (= 0.4, Brants et al.'s "stupid
#: backoff" constant) times the unigram relative frequency. 256 of the
#: fixture's 961 distinct bigrams keeps both paths well-exercised.
BACKOFF_TOPK = 256
BACKOFF_NUM = 2
BACKOFF_DEN = 5


@register(
    "text_bigram_backoff_score",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, token,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY pos) AS pos
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS token,
                   generate_subscripts(
                       string_split_regex(trim(lower(text)), '\s+'), 1)
                       AS pos
            FROM documents)
    ), bg AS (
        SELECT a.doc_id, a.token AS w1, b.token AS w2
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), c2 AS (
        SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT token AS w, count(*) AS cnt1 FROM tok GROUP BY token
    ), n AS (
        SELECT count(*) AS n_tok FROM tok
    ), topk AS (
        SELECT w1, w2, cnt2 FROM (
            SELECT w1, w2, cnt2,
                   row_number() OVER (ORDER BY cnt2 DESC, w1, w2) AS rk
            FROM c2)
        WHERE rk <= {BACKOFF_TOPK}
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(CASE WHEN t.w1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_backoff,
           round(avg(CASE WHEN t.w1 IS NOT NULL
                          THEN ln(t.cnt2 * 1.0 / h.cnt1)
                          ELSE ln(u.cnt1 * {BACKOFF_NUM}.0
                                  / ({BACKOFF_DEN}.0 * n.n_tok)) END), 4)
               AS avg_score
    FROM bg
    JOIN c1 h ON bg.w1 = h.w
    JOIN c1 u ON bg.w2 = u.w
    LEFT JOIN topk t ON bg.w1 = t.w1 AND bg.w2 = t.w2
    CROSS JOIN n
    GROUP BY bg.doc_id
    """,
)
def text_bigram_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram scoring with a broadcast top-K model table.

    The serving-shaped deployment of ``text_bigram_logprob``: instead of
    equi-joining the full bigram count table against the corpus, only
    the ``BACKOFF_TOPK`` most frequent bigrams (rank tie-broken by
    (count desc, w1, w2) so the cut is deterministic) ship to executors
    as a broadcast model; any bigram outside the table backs off to
    0.4 x the unigram relative frequency of its second word — exactly
    Brants et al. 2007's "stupid backoff", whose point is that the
    backoff path needs no per-bigram state at all. Per document the
    query reports the bigram count, HOW MANY occurrences took the
    backoff path (proving both paths execute), and the mean score.

    Scale shape: the corpus-side stream is the same single window
    ``lead`` per doc partition as the sibling; the model (top-K bigrams
    with head counts baked in) and the unigram table are both broadcast,
    so scoring is entirely map-side — the only shuffles are the
    map-side-combinable count aggregates and the final per-doc rollup,
    which reuses the doc_id partitioning the window already installed.
    At 100 TB the top-K table is K rows by construction and the unigram
    table is vocab-sized (~1e7 rows max after min-count pruning) — both
    orders of magnitude under broadcast limits; no bigram-keyed shuffle
    of the corpus ever happens, which is the entire point of backoff.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    tok = toks.select("doc_id", F.posexplode("__toks").alias("pos", "token"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        F.col("token").alias("w1"),
        F.lead("token").over(w).alias("w2"),
    ).where(F.col("w2").isNotNull())
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = tok.groupBy(F.col("token").alias("w")).agg(
        F.count(F.lit(1)).alias("cnt1")
    )
    n = tok.agg(F.count(F.lit(1)).alias("n_tok"))
    rk = Window.orderBy(F.desc("cnt2"), "w1", "w2")
    topk = (
        c2.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= BACKOFF_TOPK)
        .select("w1", "w2", "cnt2")
    )
    head = c1.select(F.col("w").alias("w1"), F.col("cnt1").alias("h_cnt"))
    uni = c1.select(F.col("w").alias("w2"), F.col("cnt1").alias("u_cnt"))
    t = topk.select(
        F.col("w1").alias("t_w1"),
        F.col("w2").alias("t_w2"),
        "cnt2",
    )
    score = F.when(
        F.col("t_w1").isNotNull(),
        F.log(F.col("cnt2") * F.lit(1.0) / F.col("h_cnt")),
    ).otherwise(
        F.log(
            F.col("u_cnt")
            * F.lit(float(BACKOFF_NUM))
            / (F.lit(float(BACKOFF_DEN)) * F.col("n_tok"))
        )
    )
    return (
        bg.join(F.broadcast(head), "w1")
        .join(F.broadcast(uni), "w2")
        .join(
            F.broadcast(t),
            (F.col("w1") == F.col("t_w1")) & (F.col("w2") == F.col("t_w2")),
            "left",
        )
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("t_w1").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_backoff"),
            F.round(F.avg(score), 4).alias("avg_score"),
        )
    )


@register(
    "text_perplexity_buckets",
    category="text",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), counts AS (
        SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), total AS (
        SELECT sum(cnt) AS n FROM counts
    ), scored AS (
        SELECT t.doc_id,
               round(avg(ln(c.cnt)) - ln(max(total.n)), 4) AS avg_logprob
        FROM tok t
        JOIN counts c ON t.token = c.token
        CROSS JOIN total
        GROUP BY t.doc_id
    )
    SELECT s.doc_id, d.lang, s.avg_logprob,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY s.avg_logprob DESC, s.doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing by LM score per language.

    Wenzek et al.'s CCNet recipe: score every document with a language
    model, then split EACH LANGUAGE into score terciles — 'head' (most
    fluent third) feeds training, 'tail' is dropped, 'middle' is
    judgement — so high-resource languages never set the bar for
    low-resource ones (the same per-language fairness argument as
    ``curation_adaptive_threshold``). The score is the registry's
    unigram LM (``text_unigram_logprob``'s exact shape); bucketing is
    ``ntile(3)`` over the ROUNDED score with doc_id tie-break, so the
    cut is deterministic and engine-identical.

    Scale shape: scoring is the unigram plan (two map-side-combinable
    aggregates + one equi-join); the tercile is one window per language
    partition. With skewed language sizes the ntile window inherits the
    language key's skew — at 100 TB swap ntile for the percentile-gate
    form (``curation_adaptive_threshold``): two broadcast cutpoints per
    language, no per-language sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    tok = toks.select("doc_id", F.explode("__toks").alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n"))
    scored = (
        tok.join(counts, "token")
        .crossJoin(total)
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log("cnt")) - F.log(F.max("n")), 4).alias(
                "avg_logprob"
            )
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logprob"), "doc_id"
    )
    bucket = (
        F.when(F.ntile(3).over(w) == 1, "head")
        .when(F.ntile(3).over(w) == 2, "middle")
        .otherwise("tail")
    )
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "avg_logprob", bucket.alias("bucket"))
    )


#: Code-detection keyword lexicon (language-agnostic, deliberately small).
CODE_KEYWORDS = ("def", "return", "import", "if", "else", "for", "while",
                 "function", "var", "int")


@register(
    "text_code_prose_ratio",
    category="text",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               text,
               length(text) AS n_chars,
               string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT)                                AS n_chars,
           CAST(len(tokens) AS BIGINT)                            AS n_tokens,
           CAST(len(regexp_extract_all(text, '[{{}}();=<>\[\]#]'))
                AS BIGINT)                                        AS symbol_count,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit_count,
           CAST(len(list_filter(tokens,
                t -> t IN {CODE_KEYWORDS!r})) AS BIGINT)          AS keyword_count,
           (len(regexp_extract_all(text, '[{{}}();=<>\[\]#]')) * 50 > n_chars
            OR len(list_filter(tokens, t -> t IN {CODE_KEYWORDS!r})) * 10
               > len(tokens))                                     AS is_code
    FROM toks
    """,
)
def text_code_prose_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection signals: symbol, digit, and keyword density.

    Corpus routing for code-aware training mixes: documents whose
    structural-symbol density exceeds 2% of characters or whose tokens
    are >10% language keywords get flagged ``is_code`` so the pipeline
    can route them to a code-specific cleaning path (different dedup
    granularity, no PII scrub of identifiers, etc). The gate compares
    cross-multiplied INTEGER counts (``symbols * 50 > chars``), never a
    float ratio — zero FP anywhere, so the oracle hash needs no rounding.

    Scale shape: narrow per-row map over the corpus, all JVM regexp and
    higher-order array built-ins inside one codegen stage; nothing
    shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    symbols = F.size(
        F.regexp_extract_all("text", F.lit(r"[{}();=<>\[\]#]"), F.lit(0))
    )
    digits = F.size(F.regexp_extract_all("text", F.lit("[0-9]"), F.lit(0)))
    keywords = F.size(F.filter(toks, lambda t: t.isin(*CODE_KEYWORDS)))
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        symbols.cast("long").alias("symbol_count"),
        digits.cast("long").alias("digit_count"),
        keywords.cast("long").alias("keyword_count"),
        ((symbols * 50 > n_chars) | (keywords * 10 > n_tokens)).alias("is_code"),
    )


#: BM25 scoring constants (Robertson k1/b defaults) and the probe query.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("table", "spark", "key")
BM25_TOP = 10


@register(
    "text_bm25_topk",
    category="text",
    bench=True,
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), dl AS (
        SELECT doc_id, len(tokens) AS dl FROM toks
    ), stats AS (
        SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
        WHERE term IN {BM25_TERMS!r}
        GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * (tf.tf * ({BM25_K1} + 1))
                     / (tf.tf + {BM25_K1}
                        * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)),
                     4) AS bm25,
               row_number() OVER (
                   PARTITION BY tf.term
                   ORDER BY round(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                                  * (tf.tf * ({BM25_K1} + 1))
                                  / (tf.tf + {BM25_K1}
                                     * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)),
                                  4) DESC,
                            tf.doc_id) AS rn
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN df ON tf.term = df.term
        CROSS JOIN stats s
    )
    SELECT term, doc_id, CAST(tf AS BIGINT) AS tf, bm25, rn
    FROM scored WHERE rn <= {BM25_TOP}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 posting scoring with per-term top-k — the retrieval core.

    TF-IDF's production successor (Robertson/Sparck Jones BM25 with the
    standard k1=1.2, b=0.75): term-frequency saturation plus document-
    length normalization, which is what every lexical search engine
    actually ranks with. Query terms are an operator constant, so term
    stats (df) and the corpus stats (N, avgdl) are all bounded-size and
    broadcast; the posting scores ride the (doc, term) aggregate and the
    per-term top-k is a bounded window. Scores round to 4dp before
    ranking, absorbing ulp-level ln/reorder drift (the kNN argument).

    Scale shape: one explode pre-filtered to the query terms (the scan
    prunes everything else before the shuffle), one (doc, term) count
    exchange, broadcast stats, one bounded per-term window. Corpus text
    never shuffles; at 100 TB this is the posting-list build for |query|
    terms, not an all-terms index.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("tokens"))
    dl = toks.select("doc_id", F.size("tokens").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    # dl rides THROUGH the explode so the posting side tokenizes once and
    # needs no doc_id join back (review-caught: the join form re-ran the
    # regex split on a third scan).
    terms = toks.select(
        "doc_id", F.size("tokens").alias("dl"), F.explode("tokens").alias("term")
    ).filter(F.col("term").isin(*BM25_TERMS))
    tf = terms.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # df as a whole-partition count window over the postings: a separate
    # aggregate would re-derive tf's lineage and RESCAN the corpus; the
    # window re-shuffles only the (tiny) query-term postings.
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.crossJoin(F.broadcast(stats))
        .withColumn("bm25", F.round(idf * (F.col("tf") * (BM25_K1 + 1)) / denom, 4))
    )
    win = Window.partitionBy("term").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= BM25_TOP)
        .select("term", "doc_id", F.col("tf").cast("long").alias("tf"), "bm25", "rn")
    )


@register(
    "text_langid_confusion",
    category="text",
    oracle=fr"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), scored AS (
        SELECT doc_id, lang,
               len(list_filter(tokens, t -> t IN ('the','a','of','and')))   AS score_en,
               len(list_filter(tokens, t -> t IN ('le','la','et','les')))   AS score_fr,
               len(list_filter(tokens, t -> t IN ('el','los','y','las')))   AS score_es,
               len(list_filter(tokens, t -> t IN ('der','die','und','das'))) AS score_de,
               len(list_filter(tokens, t -> t IN ('de5','shi4','le5','he2'))) AS score_zh
        FROM toks
    ), pred AS (
        SELECT doc_id, lang,
               CASE WHEN score_en >= score_fr AND score_en >= score_es
                     AND score_en >= score_de AND score_en >= score_zh AND score_en > 0 THEN 'en'
                    WHEN score_fr >= score_es AND score_fr >= score_de
                     AND score_fr >= score_zh AND score_fr > 0 THEN 'fr'
                    WHEN score_es >= score_de AND score_es >= score_zh AND score_es > 0 THEN 'es'
                    WHEN score_de >= score_zh AND score_de > 0 THEN 'de'
                    WHEN score_zh > 0 THEN 'zh'
                    ELSE 'und' END AS predicted_lang
        FROM scored
    )
    SELECT lang, predicted_lang,
           count(*) AS n_docs,
           {int_ratio_round_sql(
               "count(*)",
               "sum(count(*)) OVER (PARTITION BY lang)", 4, "//")}
               AS class_share
    FROM pred GROUP BY lang, predicted_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component QA: the language-ID confusion matrix against gold labels.

    The evaluation every classifier-backed gate owes its operators
    before it filters a corpus (complementing ``dedup_lsh_calibration``
    on the sketch side): cells of (gold lang x predicted lang) with each
    cell's share of its gold class — the diagonal is per-class recall.
    Composes the registered ``text_langid`` builder directly, so the
    matrix can never drift from the classifier it describes.

    Scale shape: the classifier is a narrow map; the matrix aggregate is
    bounded-key (|langs|^2) with map-side combine, and the class-share
    window runs over those few cells, not the corpus.
    """
    pred = text_langid(spark, sf_dir)
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    # Integer cell counts: exact-integer 4-decimal rounding (half
    # ties diverge between engines' round(); registry helper).
    return cells.withColumn(
        "__lang_total", F.sum("n_docs").over(w)
    ).select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.expr(
            int_ratio_round_sql("n_docs", "__lang_total", 4, "div")
        ).alias("class_share"),
    )


#: Kneser-Ney: discount d = 3/4 expressed as exact integer ratio, and the
#: minimum bigram count for a row to be REPORTED (all statistics are
#: computed over the unfiltered bigram table).
KN_MIN_COUNT = 5


@register(
    "text_kneser_ney_bigram",
    category="text",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), bigrams AS (
        SELECT unnest(CASE WHEN len(tokens) >= 2
                 THEN list_transform(range(1, len(tokens)),
                      i -> tokens[i] || ' ' || tokens[i+1])
                 ELSE [] END) AS bigram
        FROM toks
    ), types AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2,
               count(*) AS c12
        FROM bigrams GROUP BY 1, 2
    ), lefts AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               count(*) AS nfollow
        FROM types GROUP BY w1
    ), rights AS (
        SELECT w2, count(*) AS nprec FROM types GROUP BY w2
    ), total AS (
        SELECT count(*) AS ntypes FROM types
    )
    SELECT t.w1, t.w2,
           CAST(t.c12 AS BIGINT) AS c12,
           l.c1,
           CAST(greatest(4 * t.c12 - 3, 0) * 1000000 // (4 * l.c1)
                + (3 * l.nfollow * ((r.nprec * 1000000) // o.ntypes))
                  // (4 * l.c1)
                AS BIGINT) AS p_kn_e6
    FROM types t
    JOIN lefts l ON t.w1 = l.w1
    JOIN rights r ON t.w2 = r.w2
    CROSS JOIN total o
    WHERE t.c12 >= {KN_MIN_COUNT}
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities — the real LM smoothing.

    Completes the language-model family (raw unigram/bigram logprob,
    stupid backoff) with the smoothing n-gram LMs actually ship:
    absolute discounting (d = 0.75) with the CONTINUATION-count unigram
    — ``P_cont(w2)`` counts how many distinct contexts w2 follows, not
    how often it occurs, which is why KN stops overweighting
    high-frequency-but-fixed-context words ("Francisco"). Every
    probability is exact integer arithmetic in e6 fixed point: d = 3/4
    makes the discounted term ``max(4*c12-3, 0) / (4*c1)`` a pure
    integer ratio, and both engines truncate positive integer division
    identically — no float enters the computation at any point, the
    strongest parity class this registry has for a statistical model.
    Statistics are computed over the FULL bigram table; only reporting
    filters to c12 >= KN_MIN_COUNT.

    Scale shape: one explode to bigram types (map-side combinable),
    three bounded-key aggregates over the TYPE table (vocabulary-sized,
    not corpus-sized), joined back on w1/w2 — broadcast-eligible — and
    one scalar cross join for the type total.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("tokens"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("tokens") >= 2,
                F.transform(
                    F.slice("tokens", 1, F.size("tokens") - 1),
                    lambda _, i: F.struct(
                        F.element_at("tokens", i + 1).alias("w1"),
                        F.element_at("tokens", i + 2).alias("w2"),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("p")
    ).select("p.w1", "p.w2")
    # The type table is vocabulary^2-bounded and feeds four consumers
    # (lefts/rights/total/output); materialize it once so the corpus
    # explode runs a single scan, not one per derived aggregate.
    types = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    lefts = types.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).alias("nfollow"),
    )
    rights = types.groupBy("w2").agg(F.count(F.lit(1)).alias("nprec"))
    total = types.agg(F.count(F.lit(1)).alias("ntypes"))
    return (
        types.filter(F.col("c12") >= KN_MIN_COUNT)
        .join(F.broadcast(lefts), "w1")
        .join(F.broadcast(rights), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            "c1",
            (
                F.expr(
                    "greatest(4 * c12 - 3, 0) * 1000000 div (4 * c1)"
                )
                + F.expr(
                    "(3 * nfollow * ((nprec * 1000000) div ntypes))"
                    " div (4 * c1)"
                )
            )
            .cast("long")
            .alias("p_kn_e6"),
        )
    )


from data_preparation_plugin_spark.plans.dedup import (  # noqa: E402
    _SHINGLES_SQL,
    SHINGLE_SIZE,
)


@register(
    "text_ngram_novelty",
    category="text",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), firsts AS (
        SELECT shingle, min(doc_id) AS first_doc FROM shingled GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 10000) // count(*) AS BIGINT) AS novelty_bp
    FROM shingled s JOIN firsts f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against everything before it.

    The diminishing-returns curve of corpus growth: in ingestion order
    (doc_id), what fraction of each document's shingles has never been
    seen in ANY earlier document? Falling novelty is the measured signal
    that more of the same crawl adds less training value — the
    data-curation counterpart of a scaling-law saturation check, and the
    per-doc twin of global vocabulary-growth (Heaps' law) tracking.
    "First seen" is a single ``min(doc_id)`` per shingle, so the whole
    curve costs two aggregates — never a per-document rescan of history
    (the quadratic trap this decomposition exists to avoid, same move
    as ``events_cumulative_reach``'s first-seen trick).

    Scale shape: one shingle exchange for the global first-occurrence
    aggregate, one equi-join back on the shingle (both sides
    digest-sized), one per-doc count. Ratios are integer basis points.
    """
    docs = load_table(spark, sf_dir, "documents")
    shingled = exploded_shingles(
        docs, ["doc_id"], "text", SHINGLE_SIZE, distinct=True
    )
    firsts = shingled.groupBy("shingle").agg(
        F.min("doc_id").alias("first_doc")
    )
    return (
        shingled.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("(n_novel * 10000) div n_shingles").alias("novelty_bp"),
        )
    )


#: Deterministic HTML wrapper shared by the Spark builder and the oracle —
#: the documents fixture is plain text, so the operator manufactures the
#: page chrome (head scripts/styles, a nav bar, inline markup, a footer)
#: that a real crawl carries, then proves it can take it back off.
_HTML_HEAD = (
    "<html><head><title>doc</title><script>var x=1;</script>"
    "<style>p{margin:0}</style></head><body>"
    '<p class="nav"><a href="/">home</a> <a href="/a">about</a>'
    ' <a href="/c">contact</a></p><p>'
)
_HTML_FOOT = (
    '</p><p class="footer"><a href="/n">next</a> <a href="/p">prev</a></p>'
    "</body></html>"
)
_SCRIPT_STYLE_RE = r"<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
_PARA_RE = r"<p[^>]*>(.*?)</p>"
_ANCHOR_RE = r"<a[^>]*>(.*?)</a>"
_TAG_RE = r"<[^>]+>"


@register(
    "text_html_boilerplate_strip",
    category="text",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               '{_HTML_HEAD}'
               || replace(text, ' spark ', ' <b>spark</b> ')
               || '{_HTML_FOOT}' AS html
        FROM documents
    ), s AS (
        SELECT doc_id,
               regexp_replace(html, '{_SCRIPT_STYLE_RE}', '', 'g') AS nosrc
        FROM h
    ), p AS (
        SELECT doc_id,
               list_transform(
                   regexp_extract_all(nosrc, '{_PARA_RE}', 1),
                   q -> struct_pack(
                       c := trim(regexp_replace(regexp_replace(
                                q, '{_TAG_RE}', ' ', 'g'), ' +', ' ', 'g')),
                       l := coalesce(list_sum(list_transform(
                                regexp_extract_all(q, '{_ANCHOR_RE}', 1),
                                a -> length(a))), 0))
               ) AS ps
        FROM s
    ), k AS (
        SELECT doc_id, ps,
               list_filter(ps, q -> 2 * q.l <= length(q.c)) AS ks
        FROM p
    )
    SELECT doc_id,
           CAST(len(ps) AS BIGINT) AS n_para,
           CAST(len(ks) AS BIGINT) AS n_kept,
           -- coalesce: DuckDB's array_to_string of an EMPTY list is
           -- NULL where Spark's join gives '' — an every-block-
           -- boilerplate page must hash as the empty string in both
           -- engines (r16 edge-fixture drive).
           CAST(length(coalesce(
                array_to_string(list_transform(ks, q -> q.c), ' '), ''))
                AS BIGINT) AS clean_len,
           md5(coalesce(
                array_to_string(list_transform(ks, q -> q.c), ' '), ''))
               AS clean_md5
    FROM k
    """,
)
def text_html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-to-text extraction with link-density boilerplate removal.

    The first step of every web-scale corpus pipeline (CommonCrawl ->
    text): drop ``<script>``/``<style>`` payloads, segment the page into
    block elements, strip inline tags, and throw away chrome blocks —
    nav bars and footers whose text is mostly anchor text — via the
    classic link-density rule (boilerplate if anchor characters exceed
    half the block's visible characters, the jusText/boilerpipe
    heuristic). Output is hash-audited end to end: paragraph counts,
    extracted length, and the md5 of the cleaned text, so a single
    mis-stripped tag fails the oracle.

    Spark shape: one projection — every step (regexp strip, paragraph
    extraction, per-block HOF scoring, rejoin) is an elementwise
    expression chain inside a single codegen stage; no shuffle, no UDF,
    no Python. At 100 TB this is the ideal operator: embarrassingly
    parallel, scan-bound, pruned to the two columns it reads. The page
    chrome is synthesized deterministically from the fixture (the corpus
    has no HTML), so both engines round-trip the identical document.
    """
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_HEAD),
        F.replace(F.col("text"), F.lit(" spark "), F.lit(" <b>spark</b> ")),
        F.lit(_HTML_FOOT),
    )
    nosrc = F.regexp_replace(html, _SCRIPT_STYLE_RE, "")
    paras = F.regexp_extract_all(nosrc, F.lit(_PARA_RE), 1)

    def _clean(p: Column) -> Column:
        return F.trim(
            F.regexp_replace(F.regexp_replace(p, _TAG_RE, " "), " +", " ")
        )

    def _link_len(p: Column) -> Column:
        return F.aggregate(
            F.regexp_extract_all(p, F.lit(_ANCHOR_RE), 1),
            F.lit(0),
            lambda acc, a: acc + F.length(a),
        )

    scored = F.transform(
        paras,
        lambda p: F.struct(_clean(p).alias("c"), _link_len(p).alias("l")),
    )
    kept = F.filter(
        scored,
        lambda s: s.getField("l") * 2 <= F.length(s.getField("c")),
    )
    joined = F.array_join(
        F.transform(kept, lambda s: s.getField("c")), " "
    )
    return docs.select(
        "doc_id",
        F.size(scored).cast("bigint").alias("n_para"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.length(joined).cast("bigint").alias("clean_len"),
        F.md5(joined).alias("clean_md5"),
    )


#: Span-corruption (T5 denoising) parameters: tokens partition into blocks
#: of SPAN_BLOCK; a block is masked (its first SPAN_LEN tokens become one
#: sentinel) when md5(doc_id:block) lands under SPAN_MASK_PCT.
SPAN_BLOCK = 10
SPAN_LEN = 3
SPAN_MASK_PCT = 33


@register(
    "text_span_corruption",
    category="text",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS tokens
        FROM documents
    ), blocks AS (
        SELECT doc_id, tokens,
               len(tokens) AS n,
               list_transform(
                   range(0, (len(tokens) + {SPAN_BLOCK - 1}) // {SPAN_BLOCK}),
                   b -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                            || CAST(b AS VARCHAR)), 1, 8))
                        ::BIGINT % 100 < {SPAN_MASK_PCT}
               ) AS masked
        FROM toks
    ), built AS (
        SELECT doc_id, n,
               array_to_string(list_filter(list_transform(
                   range(0, n),
                   i -> CASE
                        WHEN masked[i // {SPAN_BLOCK} + 1]
                             AND i % {SPAN_BLOCK} = 0
                        THEN '<extra_id_' || CAST(
                              len(list_filter(range(0, i // {SPAN_BLOCK}),
                                              b -> masked[b + 1]))
                              AS VARCHAR) || '>'
                        WHEN masked[i // {SPAN_BLOCK} + 1]
                             AND i % {SPAN_BLOCK} < {SPAN_LEN}
                        THEN NULL
                        ELSE tokens[i + 1]
                        END), x -> x IS NOT NULL), ' ') AS corrupted,
               array_to_string(list_transform(
                   list_filter(range(0, (n + {SPAN_BLOCK - 1})
                                        // {SPAN_BLOCK}),
                               b -> masked[b + 1]),
                   b -> '<extra_id_' || CAST(
                         len(list_filter(range(0, b), q -> masked[q + 1]))
                         AS VARCHAR) || '> '
                        || array_to_string(
                            tokens[b * {SPAN_BLOCK} + 1 :
                                   b * {SPAN_BLOCK} + {SPAN_LEN}], ' ')),
                   ' ') AS targets,
               CAST(len(list_filter(range(0, (n + {SPAN_BLOCK - 1})
                                             // {SPAN_BLOCK}),
                                    b -> masked[b + 1])) AS BIGINT)
                   AS n_spans,
               CAST(coalesce(list_sum(list_transform(
                   list_filter(range(0, (n + {SPAN_BLOCK - 1})
                                        // {SPAN_BLOCK}),
                               b -> masked[b + 1]),
                   b -> least({SPAN_LEN}, n - b * {SPAN_BLOCK}))), 0)
                   AS BIGINT) AS n_masked
        FROM blocks
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           n_masked, n_spans,
           md5(corrupted) AS input_md5,
           md5(coalesce(targets, '')) AS targets_md5
    FROM built
    """,
)
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: masked inputs + sentinel targets.

    The denoising-objective data transform (Raffel et al., T5; UL2's
    R-denoiser): contiguous token spans are replaced by numbered
    sentinels in the input, and the targets sequence lists each sentinel
    followed by the tokens it swallowed. Span selection is derandomized —
    the token stream partitions into ``SPAN_BLOCK`` blocks and
    md5(doc, block) decides masking — so the corruption is reproducible
    on any cluster and the ENTIRE transform (both generated sequences,
    via md5) is oracle-hash-checked; one token leaked from a masked span
    or one mis-numbered sentinel fails the driver compare.

    Scale shape: pure per-row HOF chain — no shuffle, no UDF; the only
    quadratic-looking piece (sentinel rank = masked blocks before this
    one) folds over the ~n/10 block flags, negligible against the token
    scan itself. Block flags are materialized once per row and reused by
    input, targets, and counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("tokens"))
    n = F.size("tokens")
    n_blocks = (n + (SPAN_BLOCK - 1)) / SPAN_BLOCK
    n_blocks = F.floor(n_blocks).cast("int")

    def masked_flag(b: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            b.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < SPAN_MASK_PCT
        )

    staged = toks.select(
        "doc_id",
        "tokens",
        n.alias("n"),
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1), masked_flag
        ).alias("masked"),
    )

    def flag(b: Column) -> Column:
        return F.element_at(F.col("masked"), b + 1)

    def rank(b: Column) -> Column:
        # masked blocks strictly before b; sequence stays non-negative.
        return F.size(
            F.filter(
                F.sequence(F.lit(0), b),
                lambda q: (q < b) & flag(q),
            )
        )

    def blk(i: Column) -> Column:
        return F.floor(i / SPAN_BLOCK).cast("int")

    pieces = F.transform(
        F.col("tokens"),
        lambda x, i: F.when(
            flag(blk(i)) & (i % SPAN_BLOCK == 0),
            F.concat(
                F.lit("<extra_id_"),
                rank(blk(i)).cast("string"),
                F.lit(">"),
            ),
        )
        .when(
            flag(blk(i)) & (i % SPAN_BLOCK < SPAN_LEN),
            F.lit(None).cast("string"),
        )
        .otherwise(x),
    )
    masked_blocks = F.filter(
        F.sequence(F.lit(0), F.size("masked") - 1), lambda b: flag(b)
    )
    targets = F.array_join(
        F.transform(
            masked_blocks,
            lambda b: F.concat(
                F.lit("<extra_id_"),
                rank(b).cast("string"),
                F.lit("> "),
                F.array_join(
                    F.slice(F.col("tokens"), b * SPAN_BLOCK + 1, SPAN_LEN),
                    " ",
                ),
            ),
        ),
        " ",
    )
    n_masked = F.aggregate(
        masked_blocks,
        F.lit(0),
        lambda acc, b: acc
        + F.least(F.lit(SPAN_LEN), F.col("n") - b * SPAN_BLOCK),
    )
    return staged.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        n_masked.cast("bigint").alias("n_masked"),
        F.size(masked_blocks).cast("bigint").alias("n_spans"),
        F.md5(
            F.array_join(F.filter(pieces, lambda x: x.isNotNull()), " ")
        ).alias("input_md5"),
        F.md5(targets).alias("targets_md5"),
    )


@register(
    "text_tokenizer_fertility",
    category="text",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
                   AS n_subword,
               len(string_split_regex(trim(lower(text)), '\s+')) AS n_words
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(n_subword) AS BIGINT)  AS subword_tokens,
           CAST(sum(n_words) AS BIGINT)    AS word_tokens,
           CAST(sum(n_subword) * 10000 // sum(n_words) AS BIGINT)
               AS fertility_bp
    FROM per_doc
    GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword tokens per word, in bp.

    The multilingual-tokenizer health metric — a language whose
    fertility runs far above the corpus norm is being shredded into
    characters (under-represented in the vocabulary) and will pay that
    cost in effective context length and training compute.  Composes the
    registered BPE-ish pre-tokenization (``text_bpe_token_count``) and
    the whitespace word count into corpus-level ratios; the ratio is
    integer fixed-point (``sum*10000 // sum``) so both engines agree
    exactly — no float, no per-doc averaging bias (token-weighted, the
    budgeting-relevant weighting).

    Scale shape: two narrow regexp counts per row (no explode — counts,
    not token rows), then a map-side-combinable aggregate onto |langs|
    keys.  One scan, one bounded exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    pattern = r"[a-z0-9]+|[^a-z0-9\s]"
    per_doc = docs.select(
        "lang",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(pattern), F.lit(0))
        ).alias("n_subword"),
        F.size(tokens_col(F.col("text"))).alias("n_words"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_subword").cast("bigint").alias("subword_tokens"),
        F.sum("n_words").cast("bigint").alias("word_tokens"),
        F.expr("CAST(sum(n_subword) * 10000 DIV sum(n_words) AS BIGINT)")
        .alias("fertility_bp"),
    )


#: Number of top-frequency terms the Zipf log-log fit runs over.
ZIPF_TOP = 100


@register(
    "text_zipf_slope",
    category="text",
    oracle=rf"""
    WITH counts AS (
        SELECT token, count(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                AS token
            FROM documents
        )
        GROUP BY token
        ORDER BY cnt DESC, token
        LIMIT {ZIPF_TOP}
    ), ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token)
                       AS DOUBLE)) AS x,
               ln(CAST(cnt AS DOUBLE)) AS y
        FROM counts
    ), moments AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept
    FROM moments
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank).

    Natural corpora run a slope near -1; a synthetic or heavily
    deduplicated corpus drifts flat (templated text pushes it steeper).
    The one-number "does this look like natural language?" screen to
    sit beside the Gopher rules and perplexity buckets.  Fit over the
    top {ZIPF_TOP} terms (the power-law head; the tail's discreteness
    would dominate OLS), closed-form from five sums — no iterative
    optimizer.  ``ln`` on identical integer inputs then sum-then-round
    keeps residual float risk at the 1-ulp library level, far inside
    the 6dp gate.

    Scale shape: explode -> map-side-combinable vocabulary counts; the
    top-{ZIPF_TOP} head is a TakeOrdered (no global sort); the fit runs
    on {ZIPF_TOP} rows.  One corpus scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(ZIPF_TOP)
    )
    ranked = counts.select(
        F.log(
            F.row_number()
            .over(Window.partitionBy().orderBy(F.col("cnt").desc(), "token"))
            .cast("double")
        ).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@register(
    "text_readability",
    category="text",
    oracle=r"""
    WITH counts AS (
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\s+')) AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sentences,
               greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                   AS n_syllables
        FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
               AS flesch_ease
    FROM counts
    WHERE n_words > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score from regex-countable proxies.

    The classic readability gate (common in web-corpus curation
    alongside the Gopher rules): words per sentence + syllables per
    word, with syllables approximated by vowel-group runs — the
    standard regex proxy when no dictionary is shipped.  All three
    counts are exact integers; the Flesch formula is the identical IEEE
    double expression in both engines, so the score is engine-exact
    UNROUNDED (per the float discipline: never round what both engines
    compute identically).  Sentence/syllable floors of 1 keep the
    formula total on punctuation-free text.

    Scale shape: three narrow regexp counts per row — no explode, no
    shuffle at all; the score is a pure projection inside whole-stage
    codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0))),
            F.lit(1),
        ).alias("n_sentences"),
        F.greatest(
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(r"[aeiouy]+"), F.lit(0)
                )
            ),
            F.lit(1),
        ).alias("n_syllables"),
    )
    return counts.filter(F.col("n_words") > 0).select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_syllables").cast("bigint").alias("n_syllables"),
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6)
            * (F.col("n_syllables").cast("double") / F.col("n_words"))
        ).alias("flesch_ease"),
    )


@register(
    "text_js_divergence",
    category="text",
    oracle=r"""
    WITH toks AS (
        SELECT CAST(substr(source, 4) AS INTEGER) % 2 AS grp,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), counts AS (
        SELECT token,
               sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
        FROM toks GROUP BY token
    ), norm AS (
        SELECT token, c0, c1,
               sum(c0) OVER () AS n0, sum(c1) OVER () AS n1
        FROM counts
    ), terms AS (
        SELECT CAST(c0 AS DOUBLE) / n0 AS p,
               CAST(c1 AS DOUBLE) / n1 AS q
        FROM norm
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(0.5 * sum(CASE WHEN p > 0
                               THEN p * ln(p / ((p + q) / 2)) ELSE 0 END)
               + 0.5 * sum(CASE WHEN q > 0
                               THEN q * ln(q / ((p + q) / 2)) ELSE 0 END),
                 4) AS js_divergence
    FROM terms
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two source cohorts' vocabularies.

    The text companion to ``profile_ks_drift``'s numeric test: a
    bounded (0..ln 2), symmetric distribution distance over token
    frequencies — the standard "did the crawl mix shift?" monitor for
    training-corpus composition.  Token counts are exact integers; the
    probabilities and ``ln`` terms use the identical expression in both
    engines, with the sum-then-round-4 discipline the LM scores
    established for library-``ln`` 1-ulp noise.  Absent tokens
    contribute their defined zero limit via the explicit guard.

    Scale shape: explode -> map-side-combinable (token, group) counts
    — the shuffle moves vocabulary, not corpus; the divergence is one
    scalar aggregate over that vocabulary.  One scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.substring("source", 4, 10).cast("int") % 2).alias("grp"),
        F.explode(tokens_col(F.col("text"))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    wall = Window.partitionBy()
    norm = counts.select(
        "c0",
        "c1",
        F.sum("c0").over(wall).alias("n0"),
        F.sum("c1").over(wall).alias("n1"),
    )
    p = F.col("c0").cast("double") / F.col("n0")
    q = F.col("c1").cast("double") / F.col("n1")
    m = (p + q) / 2
    return norm.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.round(
            0.5 * F.sum(F.when(p > 0, p * F.log(p / m)).otherwise(0.0))
            + 0.5 * F.sum(F.when(q > 0, q * F.log(q / m)).otherwise(0.0)),
            4,
        ).alias("js_divergence"),
    )


#: OOV screen: vocabulary size (shared top-V discipline with
#: ``text_vocab_ids``; separate constant so each can tune).
OOV_VOCAB_SIZE = 300


@register(
    "text_oov_rate",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT lang,
               unnest(string_split_regex(trim(lower(text)), '\s+'))
                   AS token
        FROM documents
    ), counts AS (
        SELECT token, count(*) AS cnt FROM tok GROUP BY token
    ), vocab AS (
        SELECT token FROM counts
        ORDER BY cnt DESC, token LIMIT {OOV_VOCAB_SIZE}
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT)
               AS n_oov,
           CAST(count(*) FILTER (WHERE v.token IS NULL) * 10000
                // count(*) AS BIGINT) AS oov_bp,
           CAST(count(DISTINCT t.token)
                    FILTER (WHERE v.token IS NULL) AS BIGINT)
               AS n_oov_types
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.lang
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language — tokenizer coverage health.

    The number that decides whether a tokenizer (or a top-V
    vocabulary) is fair to each language: the share of token
    OCCURRENCES falling outside the corpus-global top-{OOV_VOCAB_SIZE}
    vocabulary, in integer basis points, plus the distinct OOV type
    count (high rate + low types = a few hot misses worth adding;
    high rate + high types = the vocabulary is structurally too small
    for that language).  A global vocabulary over a multilingual
    corpus is dominated by the majority language, so per-language OOV
    is exactly where under-served languages show up — the companion
    to ``text_tokenizer_fertility``'s subword-inflation view.

    Scale shape: token counts are one map-side-combinable aggregate;
    the vocabulary is V rows, broadcast to the probe join (the corpus
    never shuffles on token); the per-language rollup is bounded-key.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(OOV_VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    probed = toks.join(F.broadcast(vocab), "token", "left")
    return probed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("in_vocab").isNull().cast("bigint"))
        .cast("bigint")
        .alias("n_oov"),
        F.expr(
            "CAST(sum(CAST(in_vocab IS NULL AS BIGINT)) * 10000"
            " DIV count(1) AS BIGINT)"
        ).alias("oov_bp"),
        F.countDistinct(
            F.when(F.col("in_vocab").isNull(), F.col("token"))
        )
        .cast("bigint")
        .alias("n_oov_types"),
    )


#: Intra-document dedup granularity: tokens per non-overlapping chunk.
INTRADOC_CHUNK_TOKENS = 2


@register(
    "text_intradoc_dedup",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+'))
                   AS token,
               generate_subscripts(
                   string_split_regex(trim(lower(text)), '\s+'), 1) AS pos
        FROM documents
    ), chunks AS (
        SELECT doc_id,
               (pos - 1) // {INTRADOC_CHUNK_TOKENS} AS chunk_idx,
               string_agg(token, ' ' ORDER BY pos) AS chunk_text
        FROM tok GROUP BY doc_id, (pos - 1) // {INTRADOC_CHUNK_TOKENS}
    ), ranked AS (
        SELECT doc_id, chunk_idx, chunk_text,
               row_number() OVER (PARTITION BY doc_id, chunk_text
                                  ORDER BY chunk_idx) AS rn
        FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed,
           md5(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                   FILTER (WHERE rn = 1)) AS cleaned_md5
    FROM ranked
    GROUP BY doc_id
    HAVING count(*) FILTER (WHERE rn > 1) > 0
    """,
)
def text_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document chunk dedup — self-repetition removal, reassembled.

    Cross-document dedup (the ``dedup_*`` family) never touches the
    C4/Gopher finding that documents repeat THEMSELVES (boilerplate
    runs, templated lines, stuck generators); the cleaning transform
    is sub-document: split each doc into non-overlapping
    {INTRADOC_CHUNK_TOKENS}-token chunks, keep each distinct chunk's
    FIRST occurrence, and reassemble the survivors in original order.
    The whole edit is order-preserving and md5-audited — a chunk
    leaked, dropped, or reordered by the distributed reassembly
    hash-fails.  Output is the affected-docs report (dup chunks > 0)
    with before/after accounting; ``text_gopher_repetition`` SCORES
    self-repetition, this REMOVES it.

    Scale shape: three exchanges (chunk build, keep-first window,
    reassembly), every one keyed by doc_id plus a doc-local column —
    rows only ever move WITH their document, no corpus-global key
    anywhere, so skew is bounded by the largest single document.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos0", "token"),
    )
    chunks = (
        tok.groupBy(
            "doc_id",
            (F.col("pos0") / INTRADOC_CHUNK_TOKENS)
            .cast("bigint")
            .alias("chunk_idx"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos0", "token"))
                    ),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("chunk_text")
        )
    )
    w = Window.partitionBy("doc_id", "chunk_text").orderBy("chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum((F.col("rn") > 1).cast("bigint"))
            .cast("bigint")
            .alias("n_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("rn") == 1,
                                    F.struct("chunk_idx", "chunk_text"),
                                )
                            )
                        ),
                        lambda s: s["chunk_text"],
                    ),
                    " ",
                )
            ).alias("cleaned_md5"),
        )
        .filter(F.col("n_removed") > 0)
    )


#: Chat-template token budget: prompt tokens / completion tokens.
CHAT_PROMPT_TOKENS = 10
CHAT_COMPLETION_TOKENS = 20
#: Special-token sentinels (model-family specific in production).
CHAT_SYSTEM = "You answer questions about data engineering."


@register(
    "text_chat_template_render",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
    ), sliced AS (
        SELECT doc_id, lang,
               array_to_string(
                   list_slice(toks, 1, {CHAT_PROMPT_TOKENS}), ' ')
                   AS prompt,
               array_to_string(
                   list_slice(toks, {CHAT_PROMPT_TOKENS} + 1,
                              {CHAT_PROMPT_TOKENS}
                              + {CHAT_COMPLETION_TOKENS}), ' ')
                   AS completion,
               len(toks) AS n_toks
        FROM tok
        WHERE len(toks) >= {CHAT_PROMPT_TOKENS} + {CHAT_COMPLETION_TOKENS}
    )
    SELECT doc_id, lang,
           CAST(length(prompt) AS BIGINT) AS prompt_chars,
           CAST(length(completion) AS BIGINT) AS completion_chars,
           md5('<|system|>{CHAT_SYSTEM}<|end|><|user|>' || prompt
               || '<|end|><|assistant|>' || completion || '<|end|>')
               AS rendered_md5
    FROM sliced
    """,
)
def text_chat_template_render(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chat-template rendering — the SFT-data serialization step.

    Between a curated corpus and a fine-tuning run sits one more
    transform every instruction pipeline ships: render each example
    into the model family's chat template (special-token sentinels
    around system/user/assistant turns), with hard token budgets per
    role.  Prompt/completion pairs are derived deterministically from
    each document (first {CHAT_PROMPT_TOKENS} tokens prompt, next
    {CHAT_COMPLETION_TOKENS} completion; too-short docs are dropped —
    the same admission rule a packer applies), and the RENDERED string
    is md5-audited, so a sentinel typo, a dropped separator, or a
    token leaking across the role boundary hash-fails the driver
    compare.  This is the render half of ``text_span_corruption``'s
    objective-construction family, for the SFT objective.

    Scale shape: pure per-row projection (split, slice, concat, hash)
    — zero shuffle, zero joins, whole-stage codegen end to end.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", tokens_col(F.col("text")).alias("toks")
    ).filter(
        F.size("toks") >= CHAT_PROMPT_TOKENS + CHAT_COMPLETION_TOKENS
    )
    sliced = toks.select(
        "doc_id",
        "lang",
        F.array_join(
            F.slice("toks", 1, CHAT_PROMPT_TOKENS), " "
        ).alias("prompt"),
        F.array_join(
            F.slice(
                "toks", CHAT_PROMPT_TOKENS + 1, CHAT_COMPLETION_TOKENS
            ),
            " ",
        ).alias("completion"),
    )
    rendered = F.concat(
        F.lit(f"<|system|>{CHAT_SYSTEM}<|end|><|user|>"),
        F.col("prompt"),
        F.lit("<|end|><|assistant|>"),
        F.col("completion"),
        F.lit("<|end|>"),
    )
    return sliced.select(
        "doc_id",
        "lang",
        F.length("prompt").cast("bigint").alias("prompt_chars"),
        F.length("completion").cast("bigint").alias("completion_chars"),
        F.md5(rendered).alias("rendered_md5"),
    )


@register(
    "text_unicode_normalize",
    category="text",
    oracle=r"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN replace(text, 'e', 'e' || chr(769))
                    ELSE text END AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS raw_chars,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_chars,
           CAST(length(raw) - length(nfc_normalize(raw)) AS BIGINT)
               AS chars_composed,
           md5(nfc_normalize(raw)) AS nfc_md5
    FROM injected
    WHERE doc_id % 3 = 0
    """,
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — cross-validated against a second
    implementation of the standard.

    The zeroth text-cleaning stage of any multilingual corpus: the
    same glyph arrives both composed (é, U+00E9) and decomposed
    (e + U+0301), and every downstream equality — dedup fingerprints,
    vocabulary counts, PII patterns — silently fractures unless
    normalization runs first.  Decomposed sequences are injected
    deterministically (every 3rd doc, combining acute after each
    'e'); Spark normalizes via an Arrow-batched pandas
    ``str.normalize('NFC')`` (Python's unicodedata, UCD tables) while
    the oracle runs DuckDB's ``nfc_normalize`` (ICU) — two INDEPENDENT
    implementations of UAX #15, so an md5 match is real conformance
    evidence, not self-agreement.  Composition shrinks the string by
    exactly the composed-pair count, reported per doc.

    Scale shape: pure Arrow-vectorized map, zero shuffle, zero joins;
    at 100 TB this pins one Python worker per core streaming batches
    (the ``udf_scalar_iter_score`` economics).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        return texts.str.normalize("NFC")

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    injected = docs.select(
        "doc_id",
        F.regexp_replace("text", "e", "é").alias("raw"),
    )
    out = injected.select(
        "doc_id", "raw", nfc(F.col("raw")).alias("nfc_text")
    )
    return out.select(
        "doc_id",
        F.length("raw").cast("bigint").alias("raw_chars"),
        F.length("nfc_text").cast("bigint").alias("nfc_chars"),
        (F.length("raw") - F.length("nfc_text"))
        .cast("bigint")
        .alias("chars_composed"),
        F.md5("nfc_text").alias("nfc_md5"),
    )


#: PMI collocations: minimum pair count and top-K output.
PMI_MIN_PAIRS = 25
PMI_TOP_K = 40


@register(
    "text_pmi_collocations",
    category="text",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+'))
                   AS token,
               generate_subscripts(
                   string_split_regex(trim(lower(text)), '\s+'), 1) AS pos
        FROM documents
    ), pairs AS (
        SELECT a.token AS w1, b.token AS w2
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), pc AS (
        SELECT w1, w2, count(*) AS n_xy FROM pairs GROUP BY w1, w2
    ), uni AS (
        SELECT w1 AS w, count(*) AS n FROM pairs GROUP BY w1
    ), uni2 AS (
        SELECT w2 AS w, count(*) AS n FROM pairs GROUP BY w2
    ), total AS (
        SELECT count(*) AS big_n FROM pairs
    ), scored AS (
        SELECT pc.w1, pc.w2,
               CAST(pc.n_xy AS BIGINT) AS n_xy,
               CAST(u1.n AS BIGINT) AS n_x,
               CAST(u2.n AS BIGINT) AS n_y,
               ln((CAST(pc.n_xy AS DOUBLE) * CAST(t.big_n AS DOUBLE))
                  / (CAST(u1.n AS DOUBLE) * CAST(u2.n AS DOUBLE))) AS pmi
        FROM pc JOIN uni u1 ON pc.w1 = u1.w
                JOIN uni2 u2 ON pc.w2 = u2.w
                CROSS JOIN total t
        WHERE pc.n_xy >= {PMI_MIN_PAIRS}
    )
    SELECT w1, w2, n_xy, n_x, n_y, pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP_K}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining — the phrase-discovery statistic.

    The word2vec-era association measure that still drives phrase
    vocabularies ("new york" -> one token): pointwise mutual
    information of adjacent pairs, ln((n_xy·N)/(n_x·n_y)), computed
    from EXACT integer counts with the ln applied through one shared
    expression (identical IEEE input and op order in both engines —
    the ``agg_skewness_kurtosis`` discipline).  Marginals are
    position-specific (left vs right occurrence counts — the
    directed-bigram convention), the {PMI_MIN_PAIRS}-count floor
    suppresses the low-frequency PMI explosion, and the top-{PMI_TOP_K}
    ships with full counts so downstream can re-threshold.

    Scale shape: adjacent pairs come from a doc-keyed self-join on
    position (never corpus-global); pair/marginal counts are
    map-side-combinable; the final rank is a bounded TakeOrdered.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "token"),
    )
    a, b = tok.alias("a"), tok.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.pos") == F.col("a.pos") + 1),
    ).select(F.col("a.token").alias("w1"), F.col("b.token").alias("w2"))
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    uni = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("n_x"))
    uni2 = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("n_y"))
    total = pairs.agg(F.count(F.lit(1)).alias("big_n"))
    scored = (
        pc.filter(F.col("n_xy") >= PMI_MIN_PAIRS)
        .join(uni, "w1")
        .join(uni2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("n_xy").cast("bigint").alias("n_xy"),
            F.col("n_x").cast("bigint").alias("n_x"),
            F.col("n_y").cast("bigint").alias("n_y"),
            F.expr(
                "ln((CAST(n_xy AS DOUBLE) * CAST(big_n AS DOUBLE))"
                " / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))"
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOP_K)


@register(
    "text_template_cluster",
    category="text",
    oracle=r"""
    WITH slotted AS (
        SELECT doc_id, n_chars,
               'page ' || CAST(doc_id AS VARCHAR) || ' | ' || text AS text
        FROM documents
    ), masked AS (
        SELECT doc_id, n_chars,
               md5(text) AS raw_fp,
               substr(regexp_replace(
                   regexp_replace(trim(lower(text)), '[0-9]+', '#', 'g'),
                   '\s+', ' ', 'g'), 1, 60) AS skeleton
        FROM slotted
    )
    SELECT md5(skeleton) AS template_fp,
           CAST(count(*) AS BIGINT)               AS n_docs,
           CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_distinct,
           min(doc_id)                            AS example_doc_id,
           CAST(sum(n_chars) AS BIGINT)           AS template_chars
    FROM masked
    GROUP BY skeleton
    HAVING count(*) >= 2
    """,
)
def text_template_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate cluster detection via slot-masked skeletons.

    Machine-generated pages share an opening template and differ in slot
    values ("page 3 of 117 | ..."); whitespace-normalized exact dedup
    misses them because the digits differ, and full-text fingerprints
    miss them because the payload differs. The detector masks digit runs
    to ``#``, normalizes whitespace, and clusters on the 60-char opening
    SKELETON. The fixture carries no slot column, so the boilerplate
    banner is synthesized in closed form (``page <doc_id> | `` — the
    URL-synthesis pattern): every raw text is then globally unique, and
    ``n_raw_distinct = n_docs`` in every cluster witnesses that the mask
    alone (not exact duplication) recovered the template families —
    22 clusters at sf0.01, 228 at sf0.1. Production extends the mask to
    URLs/emails/dates: one more ``regexp_replace`` each, plan unchanged.

    Scale shape: slotting, masking and the skeleton slice are in-codegen
    projections over one scan; the only shuffle moves (60-byte skeleton,
    16-byte digest, doc_id, n_chars) and the aggregate is map-side
    combinable. HAVING runs post-aggregate on bounded template rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    slotted = F.concat(
        F.lit("page "), F.col("doc_id").cast("string"), F.lit(" | "),
        F.col("text"),
    )
    skeleton = F.substring(
        F.regexp_replace(
            F.regexp_replace(F.trim(F.lower(slotted)), r"[0-9]+", "#"),
            r"\s+",
            " ",
        ),
        1,
        60,
    )
    return (
        docs.select(
            skeleton.alias("skeleton"),
            F.md5(slotted).alias("raw_fp"),
            "doc_id",
            "n_chars",
        )
        .groupBy("skeleton")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_fp").alias("n_raw_distinct"),
            F.min("doc_id").alias("example_doc_id"),
            F.sum("n_chars").alias("template_chars"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5("skeleton").alias("template_fp"),
            "n_docs",
            "n_raw_distinct",
            "example_doc_id",
            "template_chars",
        )
    )
