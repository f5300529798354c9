"""Deterministic sampling / dataset-split queries over ``documents``.

A training-data pipeline needs reproducible splits and samples: the same
document must land in the same split on every run, on any cluster size, with
no RNG state to ship. Everything here derives from md5 of the stable key
(bit-identical in Spark and DuckDB — see ``functions/hashing.py``), so the
queries are fully oracle-checkable.

Reference grounding: the reference's transform step is arbitrary user pandas
(README.md:48-83); sampling/splitting is the canonical such step in an ML
ingest pipeline (BASELINE.json driver mandate: LLM-data-pipeline operators).

Scale notes: every query is a narrow map over the table plus at most one
bounded-key aggregation — no shuffle of the raw corpus is ever keyed on an
unbounded value. Hash-bucket assignment is embarrassingly parallel and
stable under repartitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_preparation_plugin_spark.plans.registry import (
    QUERIES,
    load_table,
    register,
)


def hash_bucket(key: Column | str, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets) from md5 of the key's string form.

    The first 8 hex chars (32 bits) go through base-16 -> base-10
    conversion; both the digest and the conversion are engine-identical
    (DuckDB twin: ``('0x' || substr(md5(x), 1, 8))::BIGINT % buckets``).
    """
    col = F.col(key) if isinstance(key, str) else key
    piece = F.substring(F.md5(col.cast("string")), 1, 8)
    return (F.conv(piece, 16, 10).cast("long") % buckets).alias("bucket")


@register(
    "split_train_test",
    category="sampling",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'validation'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM documents
    )
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/validation/test split, stable per document forever.

    Pure per-row projection — no shuffle, no RNG; adding documents never
    reassigns existing ones, which is the property ML dataset versioning
    actually needs (a ``randomSplit`` reshuffles everything on every run).
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket("doc_id", 100)
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "validation")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "sample_stratified",
    category="sampling",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN bucket < 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled
    FROM (
        SELECT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM documents
    )
    GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% sample, audited per language stratum.

    The sample predicate is the same hash bucket as the split query, so
    sample membership composes with split membership (a doc's bucket is
    computed once, reused by any rate). One aggregation on the bounded
    ``lang`` key is the only shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket("doc_id", 100)
    return (
        docs.select("lang", bucket)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("bucket") < 20, 1).otherwise(0)).alias(
                "n_sampled"
            ),
        )
    )


@register(
    "sample_fixed_per_stratum",
    category="sampling",
    oracle="""
    SELECT doc_id, lang, rn
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 10
    """,
)
def sample_fixed_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k (k=10) deterministic sample per language stratum.

    md5 ordering is a reproducible shuffle; row_number + filter is Spark's
    scalable top-k (rank pushes the limit into each partition's sort, no
    global sort). Stratum count is bounded, so the window cannot skew
    beyond one language's share of the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
    )


@register(
    "sample_weighted_mix",
    category="sampling",
    oracle="""
    WITH rated AS (
        SELECT source,
               CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                    THEN 80 ELSE 20 END AS rate_pct,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM documents
    )
    SELECT source,
           min(rate_pct)  AS rate_pct,
           count(*)       AS n_docs,
           CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM rated
    GROUP BY source
    """,
)
def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing: per-source sampling rates, audited per source.

    The pre-training mixture knob — each source contributes at its target
    rate (here: even-numbered sources 80%, odd 20%, standing in for a
    configured weight table). Membership is the same md5 hash bucket as
    every other sampler in this module, so mixture, split, and sample
    predicates compose (a doc's bucket is computed once, any rate reuses
    it) and the mix is stable when the corpus grows. Pure projection +
    one bounded-key aggregation; zero extra shuffles at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.substring("source", 4, 10).cast("int") % 2 == 0, 80)
        .otherwise(20)
    )
    bucket = hash_bucket("doc_id", 100)
    rated = docs.select(
        "source", rate.alias("rate_pct"), bucket.alias("bucket")
    )
    return rated.groupBy("source").agg(
        F.min("rate_pct").alias("rate_pct"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("bucket") < F.col("rate_pct"), 1).otherwise(0)
        ).alias("n_kept"),
    )


#: Token budget of one packed training sequence, and the number of parallel
#: packing streams (one greedy cursor per stream).
SEQ_PACK_BUDGET = 256
SEQ_PACK_STREAMS = 8


@register(
    "sample_sequence_packing",
    category="sampling",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % {SEQ_PACK_STREAMS} AS pack_stream,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id,
           pack_stream,
           n_tokens,
           CAST(floor(
               (sum(n_tokens) OVER (
                    PARTITION BY pack_stream ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) / {SEQ_PACK_BUDGET}.0
           ) AS BIGINT) AS seq_id
    FROM sized
    """,
)
def sample_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences.

    The distributed form of greedy sequence packing: documents hash into
    ``SEQ_PACK_STREAMS`` independent packing streams (one shuffle on the
    stream key), and within each stream a running token total assigns each
    doc to the sequence its *preceding* cumulative count falls in. A
    global single-cursor pack would serialize on one machine; per-stream
    packing keeps every property that matters (deterministic, every doc
    packed exactly once, sequences ~budget-sized) and scales streams with
    the cluster. Stream membership reuses the module's md5 bucket, so
    packing composes with split/sample predicates.
    """
    docs = load_table(spark, sf_dir, "documents")
    from data_preparation_plugin_spark.functions.text import tokens as _tokens

    sized = docs.select(
        "doc_id",
        hash_bucket("doc_id", SEQ_PACK_STREAMS).alias("pack_stream"),
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("pack_stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    preceding = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return sized.select(
        "doc_id",
        "pack_stream",
        "n_tokens",
        F.floor(preceding / F.lit(float(SEQ_PACK_BUDGET)))
        .cast("long")
        .alias("seq_id"),
    )


@register(
    "sample_packed_sequences",
    category="sampling",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % {SEQ_PACK_STREAMS} AS pack_stream,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), assigned AS (
        SELECT doc_id, pack_stream, n_tokens,
               CAST(floor(
                   (sum(n_tokens) OVER (
                        PARTITION BY pack_stream ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens) / {SEQ_PACK_BUDGET}.0
               ) AS BIGINT) AS seq_id
        FROM sized
    )
    SELECT pack_stream,
           seq_id,
           count(*)                        AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)   AS total_tokens,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids
    FROM assigned
    GROUP BY pack_stream, seq_id
    """,
)
def sample_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the packed sequences: one row per training sequence.

    The consumption shape of :func:`sample_sequence_packing` — each row is
    one context-window's worth of documents (ordered ids + token total),
    ready for a downstream tokenizer join. The doc-id arrays are bounded
    by budget/min-doc-tokens, so the per-sequence aggregation state stays
    small no matter how large the corpus grows; still one shuffle, keyed
    on (stream, seq).

    ``doc_ids`` is emitted as a comma-joined string (numerically sorted
    before the join) rather than ``ARRAY<BIGINT>``: the driver harness
    canonicalizes rows via pandas hashing and cannot hash Python lists.
    The array form remains available via :func:`packed_sequences_array`
    (exercised in tests/test_sampling.py).
    """
    return packed_sequences_array(spark, sf_dir).withColumn(
        "doc_ids",
        F.array_join(
            F.transform(F.col("doc_ids"), lambda x: x.cast("string")), ","
        ),
    )


def packed_sequences_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed form of :func:`sample_packed_sequences` (local use)."""
    assigned = sample_sequence_packing(spark, sf_dir)
    return assigned.groupBy("pack_stream", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
    )


@register(
    "sample_epoch_upsample",
    category="sampling",
    oracle="""
    WITH epochs AS (
        SELECT doc_id, source, n_chars,
               CASE WHEN CAST(substr(source, 4) AS INTEGER) % 3 = 0 THEN 3
                    WHEN CAST(substr(source, 4) AS INTEGER) % 3 = 1 THEN 2
                    ELSE 1 END AS n_epochs
        FROM documents
    ), replicated AS (
        SELECT doc_id, source, n_chars, n_epochs,
               unnest(range(0, n_epochs)) AS epoch
        FROM epochs
    )
    SELECT source,
           min(n_epochs)                       AS n_epochs,
           count(DISTINCT doc_id)              AS n_docs,
           count(*)                            AS n_rows_after,
           CAST(sum(n_chars) AS BIGINT)        AS chars_after
    FROM replicated
    GROUP BY source
    """,
)
def sample_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch upsampling: replicate low-resource sources N times.

    The inverse mixture knob of ``sample_weighted_mix``: high-value or
    low-resource sources are repeated for multiple epochs in the training
    mix (the Pile / Llama recipe) instead of downsampling the rest. The
    replication is a bounded ``explode(sequence(0, n_epochs-1))`` — a
    Generate with per-row fan-out ≤ max epochs, streamed through codegen,
    never materialized — so the corpus can be upsampled at any scale
    without a shuffle before the audit aggregation. The per-source audit
    (docs, rows after replication, char volume) is what a mixture config
    review actually reads.
    """
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    n_epochs = (
        F.when(src_num % 3 == 0, 3).when(src_num % 3 == 1, 2).otherwise(1)
    )
    replicated = docs.select(
        "doc_id",
        "source",
        "n_chars",
        n_epochs.alias("n_epochs"),
        F.explode(F.sequence(F.lit(0), n_epochs - 1)).alias("epoch"),
    )
    return replicated.groupBy("source").agg(
        F.min("n_epochs").alias("n_epochs"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_rows_after"),
        F.sum("n_chars").cast("long").alias("chars_after"),
    )


@register(
    "sample_temperature_mix",
    category="sampling",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), denom AS (
        SELECT CAST(sum(CAST(floor(sqrt(n_docs)) AS BIGINT)) AS BIGINT) AS s,
               CAST(sum(n_docs) AS BIGINT) AS total
        FROM counts
    ), rates AS (
        SELECT c.lang, c.n_docs,
               CAST(floor(sqrt(c.n_docs)) AS BIGINT) AS w_num,
               least(100,
                     (100 * (d.total // 2)
                          * CAST(floor(sqrt(c.n_docs)) AS BIGINT))
                         // (c.n_docs * d.s)) AS rate_pct
        FROM counts c CROSS JOIN denom d
    )
    SELECT r.lang,
           min(r.n_docs)   AS n_docs,
           min(r.w_num)    AS w_num,
           min(r.rate_pct) AS rate_pct,
           CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc.doc_id AS VARCHAR)),
                                              1, 8))::BIGINT % 100
                              < r.rate_pct
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents doc JOIN rates r ON doc.lang = r.lang
    GROUP BY r.lang
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (α = 0.5) language mixing with data-derived rates.

    The multilingual pre-training mixture: sampling weight ∝ count^α
    flattens the language distribution (rare languages upsampled relative
    to their share). Unlike ``sample_weighted_mix`` (configured rates),
    the rates here are *computed from the corpus* — per-class counts →
    normalized temperature weights → per-class keep rates targeting half
    the corpus. The α = 0.5 power is taken as ``floor(sqrt(n))`` and the
    normalization stays in **integer arithmetic** end-to-end, so there is
    no float summation order for the two engines (or 1000 executors) to
    disagree on — determinism that matters for reproducible data recipes,
    not just for this oracle. Class counts are a bounded aggregate; the
    rate table broadcasts back onto the corpus; membership is the shared
    md5 bucket, composing with every other sampler in this module.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w_num = F.floor(F.sqrt("n_docs")).cast("bigint")
    scalars = counts.agg(
        F.sum(w_num).cast("bigint").alias("s"),
        F.sum("n_docs").cast("bigint").alias("total"),
    )
    rates = (
        counts.crossJoin(scalars)
        .select(
            "lang",
            "n_docs",
            w_num.alias("w_num"),
            F.least(
                F.lit(100).cast("bigint"),
                F.expr(
                    "(100 * (total div 2)"
                    " * cast(floor(sqrt(n_docs)) as bigint))"
                    " div (n_docs * s)"
                ),
            ).cast("bigint").alias("rate_pct"),
        )
    )
    kept = docs.join(F.broadcast(rates), "lang")
    return kept.groupBy("lang").agg(
        F.min("n_docs").alias("n_docs"),
        F.min("w_num").alias("w_num"),
        F.min("rate_pct").alias("rate_pct"),
        F.sum(
            F.when(hash_bucket("doc_id", 100) < F.col("rate_pct"), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_kept"),
    )


#: Per-source sample size for the weighted reservoir sample.
RESERVOIR_PER_SOURCE = 25


@register(
    "sample_weighted_reservoir",
    category="sampling",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   + 0.5) / 4294967296.0) / n_chars AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, round(k, 6) AS res_key,
           row_number() OVER (PARTITION BY source
                              ORDER BY k DESC, doc_id) AS rn
    FROM keyed
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY k DESC, doc_id) <= {RESERVOIR_PER_SOURCE}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res).

    The mixture-building primitive stratified sampling can't give you:
    each document's inclusion probability is proportional to its weight
    (here ``n_chars`` — longer docs more likely), with NO RNG state. The
    A-Res key is ``ln(u) / w`` for a per-doc uniform ``u``; taking the
    top-k keys per source is exactly weighted sampling without
    replacement. ``u`` derives from md5 of the doc id — the module's
    deterministic-uniform trick — so the sample is reproducible on any
    cluster and oracle-checkable. Scale shape: a narrow map computes the
    key, then a per-group top-k (rank + filter) — one shuffle on
    ``source``, and at 100 TB the same statement runs as per-partition
    partial top-k before the merge; no global sort, no payload shuffle
    (join the sampled ids back for the text). The hash-uniform is
    ``(h32 + 0.5) / 2^32`` — an exact power-of-two division both engines
    compute identically; ``ln`` agrees to the last ulp on these inputs
    (probed: nearest boundary gap is orders of magnitude above ulp).
    """
    # Zero-weight items have inclusion probability zero in A-Res
    # (key -> -inf); filtering them is semantically exact and keeps an
    # empty document from crashing the key division under ANSI (r16
    # edge-fixture drive).
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h32 + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(
        F.col("k").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("k"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RESERVOIR_PER_SOURCE)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("k", 6).alias("res_key"),
            "rn",
        )
    )


#: Length-bucketed batching: bucket width (tokens) and batch size (docs).
LEN_BUCKET_TOKENS = 16
LEN_BATCH_DOCS = 8


@register(
    "sample_length_batches",
    category="sampling",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), bucketed AS (
        SELECT doc_id, n_tokens,
               n_tokens // {LEN_BUCKET_TOKENS} AS len_bucket,
               (row_number() OVER (
                    PARTITION BY n_tokens // {LEN_BUCKET_TOKENS}
                    ORDER BY doc_id) - 1) // {LEN_BATCH_DOCS} AS batch_id
        FROM sized
    )
    SELECT len_bucket,
           batch_id,
           count(*)                      AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS max_len,
           CAST(sum(n_tokens) AS BIGINT) AS sum_len,
           CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
               AS padding_waste,
           round((count(*) * max(n_tokens) - sum(n_tokens)) * 1.0
                 / (count(*) * max(n_tokens)), 4) AS waste_ratio
    FROM bucketed
    GROUP BY len_bucket, batch_id
    """,
)
def sample_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed training batches and their padding-waste accounting.

    The batching strategy behind every efficient fine-tuning loader:
    documents are grouped into ``LEN_BUCKET_TOKENS``-wide length buckets,
    batches of ``LEN_BATCH_DOCS`` are cut within each bucket, and every
    batch pads to its own max length. Because in-bucket lengths differ by
    at most the bucket width, per-batch padding waste is bounded by
    ``(width-1)/max_len`` — versus unbounded waste when batching in
    arrival order. The output is the per-batch manifest (sizes + waste)
    a trainer's data loader would consume, and the waste_ratio column is
    the metric you'd alert on.

    Scale shape: one map-side token count (no shuffle of text), one hash
    exchange on the length bucket, and a row_number window within it —
    the window's sort is over one bucket's doc ids only. The final
    per-batch rollup reuses the same exchange. Batch assignment is
    deterministic (doc_id order), so reruns produce identical manifests
    — the property needed for resumable training.
    """
    docs = load_table(spark, sf_dir, "documents")
    from data_preparation_plugin_spark.functions.text import tokens as _toks

    sized = docs.select(
        "doc_id", F.size(_toks(F.col("text"))).cast("long").alias("n_tokens")
    )
    bucketed = sized.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("n_tokens") / LEN_BUCKET_TOKENS).alias("len_bucket"),
    )
    w = Window.partitionBy("len_bucket").orderBy("doc_id")
    batched = bucketed.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / LEN_BATCH_DOCS),
    )
    waste = F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
    return batched.groupBy("len_bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_len"),
        waste.cast("long").alias("padding_waste"),
        F.round(
            waste * F.lit(1.0) / (F.count(F.lit(1)) * F.max("n_tokens")), 4
        ).alias("waste_ratio"),
    )


#: Per-source token budget for `sample_token_budget` (tokens, not docs —
#: the unit an LLM data mix is actually specified in).
SOURCE_TOKEN_BUDGET = 800


@register(
    "sample_token_budget",
    category="sampling",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    ), cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY hx, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum
    WHERE cum_tokens <= {SOURCE_TOKEN_BUDGET}
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget cap — the data-mix contract enforcer.

    An LLM data mix is specified in *tokens per source*, not documents;
    this query admits documents per source in stable hash order until the
    running token total would exceed ``SOURCE_TOKEN_BUDGET``, emitting the
    admitted manifest with its cumulative position. Hash order (md5 of
    doc_id) makes the selection a uniform sample that is identical on
    every run and cluster size — no RNG, no arrival-order dependence —
    so a retrained tokenizer or a re-run backfill reproduces the exact
    same corpus slice.

    Scale shape: one map-side token count (text itself never shuffles —
    only (doc_id, source, n_tokens, 32-byte digest) rows), one exchange
    on ``source``, and a running-sum window whose sort is per-source.
    A source so large its id-stream overwhelms one task would be cut by
    budget long before that (the window can early-stop via the cum filter
    pushed against top-k-style limits at the storage layer); alternately
    the hash order admits range-partitioned parallel prefix sums because
    the order key is data-independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    from data_preparation_plugin_spark.functions.text import tokens as _toks

    sized = docs.select(
        "doc_id",
        "source",
        F.size(_toks(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("hx", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.where(F.col("cum_tokens") <= SOURCE_TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


@register(
    "sample_balanced_labels",
    category="sampling",
    oracle="""
    WITH m AS (
        SELECT min(cnt) AS m FROM (
            SELECT count(*) AS cnt FROM embeddings GROUP BY label)
    )
    SELECT vec_id, label,
           CAST(row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS BIGINT) AS rn
    FROM embeddings CROSS JOIN m
    QUALIFY rn <= m
    """,
)
def sample_balanced_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: every label kept at the minority count.

    The classifier-training prep step: find the smallest class, keep
    exactly that many rows of every class, chosen by stable hash rank so
    the kept subset is a uniform, rerun-identical sample (contrast
    ``df.sampleBy``, whose per-run RNG cannot be replayed across cluster
    sizes). Output carries the in-class rank so a curriculum loader can
    take balanced prefixes of any size ≤ m.

    Scale shape: the minority count is a bounded aggregate (one row per
    label) broadcast back as a scalar; ranking is one exchange on
    ``label`` + an in-partition sort keyed on a 32-byte digest. Labels
    are bounded-cardinality by construction, so per-label partitions are
    the natural shard; a pathological giant class still only sorts ids,
    never payloads (vectors join back by key downstream if needed).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    m = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = emb.select(
        "vec_id", "label", F.row_number().over(w).cast("long").alias("rn")
    )
    return ranked.crossJoin(F.broadcast(m)).where(
        F.col("rn") <= F.col("m")
    ).select("vec_id", "label", "rn")


@register(
    "sample_interleave_sources",
    category="sampling",
    oracle="""
    WITH srcdim AS (
        SELECT source,
               row_number() OVER (ORDER BY source) - 1 AS src_idx
        FROM (SELECT DISTINCT source FROM documents)
    ), n AS (
        SELECT count(*) AS n_sources FROM srcdim
    ), ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                   AS src_pos
        FROM documents
    )
    SELECT r.doc_id, r.source, r.src_pos,
           r.src_pos * n.n_sources + s.src_idx AS global_pos
    FROM ranked r
    JOIN srcdim s ON r.source = s.source
    CROSS JOIN n
    """,
)
def sample_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleaving of sources for training order.

    The dataloader-order problem: an epoch should visit every source in
    a fixed even rotation (src0, src1, ..., srcN, src0, ...) with each
    source's documents in a stable shuffled order — reproducible across
    reruns, resumable from any position, no RNG state. Each document
    gets its within-source position from the md5-of-key order (the same
    stateless shuffle as ``sample_split_stable``), and its GLOBAL
    position is computed arithmetically: ``src_pos * n_sources +
    src_idx``. Positions are unique by construction, so this assigns a
    total training order WITHOUT ever sorting the corpus globally —
    the property that matters at 100 TB, where a global row_number
    would serialize on one partition.

    Scale shape: one exchange on ``source`` for the per-source rank
    window (hash order, so no data-dependent skew), a broadcast join
    against the tiny source dimension, and a 1-row cross join for the
    source count. Writers then range-partition on ``global_pos`` to
    materialize shards in order — still no global sort, because the
    order is already explicit in the column.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcdim = (
        docs.select("source")
        .distinct()
        .withColumn(
            "src_idx", F.row_number().over(Window.orderBy("source")) - 1
        )
    )
    n = srcdim.agg(F.count(F.lit(1)).alias("n_sources"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn("src_pos", F.row_number().over(w) - 1)
    return (
        ranked.join(F.broadcast(srcdim), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            "src_pos",
            (F.col("src_pos") * F.col("n_sources") + F.col("src_idx")).alias(
                "global_pos"
            ),
        )
    )


#: Fold count for `sample_group_kfold`.
KFOLD_K = 5


@register(
    "sample_group_kfold",
    category="sampling",
    oracle=f"""
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(source), 1, 8))::BIGINT % {KFOLD_K}
                AS BIGINT) AS fold
    FROM documents
    """,
)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped k-fold assignment: the leakage-safe cross-validation split.

    ``split_train_test`` hashes the DOCUMENT id — correct for i.i.d.
    rows, wrong when near-duplicates cluster within a group (all pages
    of one site, all utterances of one speaker): group members split
    across folds leak evaluation data into training. Grouped k-fold
    hashes the GROUP key instead, so every document of a source lands
    in the same fold by construction — the property scikit-learn's
    GroupKFold provides, here as a stateless hash so it holds across
    runs, machines, and data arrivals without a fold-assignment table.

    Scale shape: a narrow map (md5 of an existing column, modulo k) —
    no shuffle, no state; fold membership survives incremental ingest
    because it never depends on what else has arrived. Run near-dup
    clustering first when the groups themselves share content.
    """
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast("long")
        % KFOLD_K
    )
    return docs.select("doc_id", "source", fold.alias("fold"))


#: Negatives drawn per document by `sample_negative_candidates`.
NEG_K = 4


@register(
    "sample_negative_candidates",
    category="sampling",
    oracle=f"""
    WITH idx AS (
        SELECT doc_id, source,
               row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                   AS pos
        FROM documents
    ), n AS (
        SELECT count(*) AS n_docs FROM idx
    ), probes AS (
        SELECT a.doc_id, a.source, j.j,
               ('0x' || substr(md5(CAST(a.doc_id * {NEG_K} + j.j
                                        AS VARCHAR)), 1, 8))::BIGINT
                   % n.n_docs AS cand_pos
        FROM idx a
        CROSS JOIN (SELECT unnest(range(0, {NEG_K})) AS j) j
        CROSS JOIN n
    )
    SELECT p.doc_id, CAST(p.j AS BIGINT) AS slot,
           i.doc_id AS neg_doc_id,
           CASE WHEN i.source <> p.source AND i.doc_id <> p.doc_id
                THEN 1 ELSE 0 END AS usable
    FROM probes p JOIN idx i ON p.cand_pos = i.pos
    """,
)
def sample_negative_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling: K hash-probed candidates per doc.

    The contrastive-training primitive (word2vec negatives, recsys
    candidate samplers, hard-negative pretraining): each document draws
    ``NEG_K`` pseudo-random candidates by hashing (doc, slot) into a
    position on a stable index ring — the md5-ordered dense positions
    of ``transform_dense_surrogate_ids``'s construction — with a
    ``usable`` flag marking collisions (same source or self) that the
    trainer resamples or drops. Stateless and reproducible: the same
    doc draws the same negatives on any cluster, any run, any data
    partitioning, with no RNG state to checkpoint.

    Scale shape: the index is one ranked projection of the corpus; the
    probe side is corpus x K rows of (key, int) pairs; resolution is a
    single equi-join on the position — co-partitionable, and at serving
    time the index ring is exactly what a broadcast or range-partitioned
    lookup table implements. Uniformity comes from md5; no
    rejection loop, so the plan is one join deep regardless of K.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    idx_w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    idx = docs.select(
        "doc_id", "source", (F.row_number().over(idx_w) - 1).alias("pos")
    )
    n = idx.agg(F.count(F.lit(1)).alias("n_docs"))
    probes = (
        idx.select("doc_id", "source")
        .crossJoin(F.broadcast(spark.range(NEG_K).select(F.col("id").alias("j"))))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            "j",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            (F.col("doc_id") * NEG_K + F.col("j")).cast(
                                "string"
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_docs")
            ).alias("cand_pos"),
        )
    )
    cand = idx.select(
        F.col("pos").alias("cand_pos"),
        F.col("doc_id").alias("neg_doc_id"),
        F.col("source").alias("neg_source"),
    )
    return probes.join(cand, "cand_pos").select(
        "doc_id",
        F.col("j").cast("long").alias("slot"),
        "neg_doc_id",
        F.when(
            (F.col("neg_source") != F.col("source"))
            & (F.col("neg_doc_id") != F.col("doc_id")),
            1,
        )
        .otherwise(0)
        .alias("usable"),
    )


SHUFFLE_SHARDS = 8
SHUFFLE_SALT = "shuffle"


@register(
    "sample_global_shuffle",
    category="sampling",
    oracle=f"""
    SELECT doc_id,
           shard,
           CAST(row_number() OVER (
               PARTITION BY shard
               ORDER BY md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)),
                        doc_id
           ) AS BIGINT) - 1 AS pos
    FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % {SHUFFLE_SHARDS} AS shard
        FROM documents
    )
    """,
)
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into shards with in-shard positions.

    The write-path staple of a pretraining pipeline: before packing or
    tokenizing, the corpus is shuffled once so adjacent training examples
    are decorrelated, and the shuffle must be REPRODUCIBLE — same doc,
    same shard, same position on every run, cluster, and partitioning.
    Shard = md5 bucket of the key; position = rank of a *differently
    salted* md5 within the shard, so shard assignment and in-shard order
    are independent hash streams (no correlation between which shard a
    doc lands in and where it sits).

    Scale shape: shard assignment is a narrow map; the only exchange is
    the window partitioned by shard — at 100 TB you raise SHUFFLE_SHARDS
    to O(output files) (tens of thousands), keeping each in-shard sort an
    executor-local spillable sort of corpus/shards rows. No global order,
    no driver involvement; this is exactly how a sharded
    ``write.partitionBy("shard")`` lays out training files.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sharded = docs.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % SHUFFLE_SHARDS
        ).alias("shard"),
    )
    win = Window.partitionBy("shard").orderBy(
        F.md5(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return sharded.select(
        "doc_id",
        "shard",
        (F.row_number().over(win).cast("long") - 1).alias("pos"),
    )


CURRICULUM_PHASES = 4
CURRICULUM_SHARDS = 4
CURRICULUM_SALT = "curriculum"


@register(
    "sample_curriculum_order",
    category="sampling",
    bench=True,
    oracle=f"""
    WITH hist AS (
        SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars
    ), cum AS (
        SELECT n_chars,
               CAST(sum(c) OVER (ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) - c AS BIGINT)
                   AS below,
               CAST((SELECT sum(c) FROM hist) AS BIGINT) AS total
        FROM hist
    ), phased AS (
        SELECT n_chars,
               least({CURRICULUM_PHASES - 1},
                     ({CURRICULUM_PHASES} * below) // total) AS phase
        FROM cum
    )
    SELECT d.doc_id,
           p.phase,
           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {CURRICULUM_SHARDS} AS shard,
           CAST(row_number() OVER (
               PARTITION BY p.phase,
                   ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % {CURRICULUM_SHARDS}
               ORDER BY md5('{CURRICULUM_SALT}' || CAST(d.doc_id AS VARCHAR)),
                        d.doc_id
           ) AS BIGINT) - 1 AS pos
    FROM documents d JOIN phased p USING (n_chars)
    """,
)
def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: difficulty-quartile phases, shuffled within.

    Length-based curriculum (short/easy docs first): phase = which
    difficulty quartile the document's n_chars value falls in, computed
    VALUE-level — a histogram over distinct n_chars, a prefix-sum over
    that histogram, and ``phase = floor(PHASES * rows_below / total)``.
    All docs sharing a value share a phase (no arbitrary intra-value
    split), and within each (phase, shard) the order is a salted-md5
    shuffle so training doesn't see the corpus sorted by length inside a
    phase.

    Scale shape: the only full-corpus exchanges are keyed on (phase,
    shard) — bounded fan-in chosen by the operator, each partition an
    executor-local sort. The quantile machinery touches only the value
    histogram: cardinality(n_chars) rows, a single tiny window, then a
    broadcast join back. No ntile over a global window, no driver
    percentile collect; this is the same prefix-max decomposition the
    watermark audit uses (plans/events.py) applied to quantile binning.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hist = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    cum_win = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = hist.agg(F.sum("c").alias("total"))
    phased = (
        hist.withColumn("below", F.sum("c").over(cum_win) - F.col("c"))
        .crossJoin(F.broadcast(total))
        .select(
            "n_chars",
            F.least(
                F.lit(CURRICULUM_PHASES - 1),
                F.floor(CURRICULUM_PHASES * F.col("below") / F.col("total")),
            ).alias("phase"),
        )
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % CURRICULUM_SHARDS
    )
    win = Window.partitionBy("phase", "shard").orderBy(
        F.md5(F.concat(F.lit(CURRICULUM_SALT), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.join(F.broadcast(phased), "n_chars")
        .select("doc_id", "phase", shard.alias("shard"))
        .select(
            "doc_id",
            "phase",
            "shard",
            (F.row_number().over(win).cast("long") - 1).alias("pos"),
        )
    )


#: Temporal holdout: leading fraction (per mille) of each user's history
#: that trains; the tail is the evaluation window.
TEMPORAL_TRAIN_PERMILLE = 800


@register(
    "split_temporal_holdout",
    category="sampling",
    oracle=f"""
    WITH ranked AS (
        SELECT event_id, user_id, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT event_id, user_id, ts,
           CASE WHEN rn * 1000 <= n * {TEMPORAL_TRAIN_PERMILLE}
                THEN 'train' ELSE 'holdout' END AS split
    FROM ranked
    """,
)
def split_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal holdout split: each user's earliest 80% trains, tail evals.

    The anti-leakage split for anything temporal (recsys, churn, event
    prediction): random/hash splits leak the future into training, so
    the split must cut each user's history at a time point — here the
    80th percentile position of their own event sequence, so every user
    contributes both sides and no future event precedes a training one.
    The gate is the cross-multiplied integer comparison
    ``rank * 1000 <= n * 800`` — no float ratio.

    Scale shape: one exchange on user_id carries the ranking window and
    the per-user count (same frame), identical envelope to
    sessionization. Contrast with ``split_train_test`` (stateless hash
    split) — both are registered because pipelines need both, for
    different leakage models.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(
                # long casts: an IntegerType row_number wraps at ~2.1M
                # events/user once multiplied by 1000 — at the 100 TB
                # target that flips deep-tail holdout rows into train.
                F.col("rn").cast("long") * 1000
                <= F.col("n").cast("long") * TEMPORAL_TRAIN_PERMILLE,
                "train",
            )
            .otherwise("holdout")
            .alias("split"),
        )
    )


_PACK_AUDIT_ORACLE = f"""
    WITH packed AS (
        SELECT * FROM ({QUERIES["sample_sequence_packing"].oracle})
    ), seqs AS (
        SELECT pack_stream, seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        FROM packed GROUP BY pack_stream, seq_id
    )
    SELECT CAST(pack_stream AS BIGINT) AS pack_stream,
           CAST(count(*) AS BIGINT) AS n_sequences,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(least(seq_tokens, {SEQ_PACK_BUDGET})) * 10000
                // (count(*) * {SEQ_PACK_BUDGET}) AS BIGINT)
               AS utilization_bp,
           CAST(sum(CASE WHEN seq_tokens > {SEQ_PACK_BUDGET}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_seqs
    FROM seqs GROUP BY pack_stream
"""


@register(
    "sample_pack_efficiency",
    category="sampling",
    oracle=_PACK_AUDIT_ORACLE,
)
def sample_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-utilization audit of the sequence packer — wasted-token report.

    The number that decides whether packing parameters are costing real
    money: per packing stream, how full are the produced sequences
    (capped utilization in basis points of ``SEQ_PACK_BUDGET``) and how
    many overflow the budget (the floor-assignment idiom lets a doc
    straddle, trading exact fill for distributability — this audit
    MEASURES what that trade costs). Composes the REGISTERED packer
    (builder and oracle both), so the report tracks the operator it
    audits. Low utilization -> raise budget or add streams; many
    overflows -> cap document length upstream.

    Scale shape: everything after the packer is a two-level bounded
    aggregate (sequences, then streams); the packer's one stream-key
    exchange dominates.
    """
    packed = sample_sequence_packing(spark, sf_dir)
    seqs = packed.groupBy("pack_stream", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )
    return seqs.groupBy("pack_stream").agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("seq_tokens").alias("total_tokens"),
        F.expr(
            f"sum(least(seq_tokens, {SEQ_PACK_BUDGET})) * 10000"
            f" div (count(1) * {SEQ_PACK_BUDGET})"
        ).alias("utilization_bp"),
        F.sum(
            (F.col("seq_tokens") > SEQ_PACK_BUDGET).cast("long")
        ).alias("n_overflow_seqs"),
    )


#: Total sample budget the Neyman allocation distributes across strata.
NEYMAN_BUDGET = 1000
#: o_totalprice in exact integer cents (deterministic per row: the double
#: -> cents round happens before any aggregation, so both engines sum the
#: identical integers; HUGEINT/DECIMAL(38,0) keeps the squared sums exact).
_NEYMAN_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


@register(
    "sample_neyman_allocation",
    category="sampling",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority AS stratum,
               count(*) AS n_rows,
               sum(CAST({_NEYMAN_CENTS} AS HUGEINT)) AS s_c,
               sum(CAST({_NEYMAN_CENTS} AS HUGEINT)
                   * CAST({_NEYMAN_CENTS} AS HUGEINT)) AS ss_c
        FROM orders
        GROUP BY 1
    ), w AS (
        SELECT stratum, n_rows,
               CAST(round(sqrt(
                   (CAST(ss_c AS DOUBLE)
                    - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / n_rows)
                   / (n_rows - 1)), 0) AS BIGINT) AS sd_cents
        FROM s
    ), t AS (
        SELECT sum(n_rows * sd_cents) AS tot FROM w
    )
    SELECT stratum,
           CAST(n_rows AS BIGINT) AS n_rows,
           sd_cents,
           CAST(({NEYMAN_BUDGET} * n_rows * sd_cents) // t.tot
               AS BIGINT) AS alloc_n,
           CAST((({NEYMAN_BUDGET} * n_rows * sd_cents) // t.tot) * 10000
               // n_rows AS BIGINT) AS alloc_rate_bp
    FROM w, t
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (n_h ∝ N_h·σ_h).

    The survey-sampling optimum that every proportional allocator leaves
    on the table: for a fixed budget, variance of the estimated mean is
    minimized by sampling each stratum in proportion to its size TIMES
    its in-stratum standard deviation — high-variance strata earn more
    rows. This is the planning step of principled downsampling (eval-set
    construction, cost-capped profiling): the output is the per-stratum
    row budget and implied rate.

    Determinism at any executor count: the value column converts to
    exact integer cents BEFORE aggregation (a per-row double round both
    engines do identically), so the per-stratum (n, Σ, Σx²) moments are
    exact integers — DECIMAL(38,0) Spark-side, HUGEINT in the oracle —
    with no float summation order anywhere. σ is one closed-form double
    expression over those exact moments, rounded to whole cents before
    the allocation arithmetic, which then stays in integer ``div``s end
    to end. Scale shape: one map-side-combinable aggregate (5 rows out),
    one scalar cross-join for the normalizer — the corpus is read once.
    """
    cents = F.expr(_NEYMAN_CENTS).cast("decimal(38,0)")
    # |strata| rows; checkpointed so the normalizer's scalar aggregate
    # reuses this result instead of re-running the fact scan (the corpus
    # must be read exactly once — lineage recompute would double it).
    s = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(cents).alias("s_c"),
            F.sum(cents * cents).alias("ss_c"),
        )
        .localCheckpoint(eager=True)
    )
    sd = F.round(
        F.sqrt(
            (
                F.col("ss_c").cast("double")
                - F.col("s_c").cast("double")
                * F.col("s_c").cast("double")
                / F.col("n_rows")
            )
            / (F.col("n_rows") - 1)
        ),
        0,
    ).cast("bigint")
    w = s.select("stratum", "n_rows", sd.alias("sd_cents"))
    tot = w.agg(F.sum(F.col("n_rows") * F.col("sd_cents")).alias("tot"))
    alloc = F.expr(f"({NEYMAN_BUDGET} * n_rows * sd_cents) div tot")
    return (
        w.crossJoin(tot)
        .select("stratum", "n_rows", "sd_cents", alloc.alias("alloc_n"))
        .withColumn(
            "alloc_rate_bp", F.expr("(alloc_n * 10000) div n_rows")
        )
    )


#: Bootstrap replicates, and the Poisson(1) inverse-CDF thresholds in
#: millionths (cumulative e^-1 * Σ 1/k!): a uniform hash bucket in
#: [0, 1e6) maps through this table to a deterministic per-(doc, rep)
#: resample weight — the Poisson bootstrap (Chamandy et al., Google) that
#: replaces with-replacement draws at corpus scale.
BOOTSTRAP_REPS = 20
_POISSON_CDF_E6 = (367879, 735758, 919698, 981011, 996340, 999405)


def _poisson_weight_sql(bucket: str) -> str:
    """CASE expression mapping a [0, 1e6) bucket to a Poisson(1) draw."""
    whens = "\n               ".join(
        f"WHEN {bucket} < {t} THEN {k}"
        for k, t in enumerate(_POISSON_CDF_E6)
    )
    return f"CASE {whens} ELSE {len(_POISSON_CDF_E6)} END"


@register(
    "sample_poisson_bootstrap",
    category="sampling",
    oracle=f"""
    WITH drawn AS (
        SELECT r.rep,
               {_poisson_weight_sql("('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)), 1, 8))::BIGINT % 1000000")} AS w,
               n_chars
        FROM documents, (SELECT unnest(range(0, {BOOTSTRAP_REPS})) AS rep) r
    )
    SELECT rep,
           CAST(sum(w) AS BIGINT) AS n_drawn,
           CAST(sum(w * n_chars) AS BIGINT) AS token_sum,
           CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
    FROM drawn
    GROUP BY rep
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: resampling confidence machinery without a shuffle.

    The with-replacement bootstrap is impossible at corpus scale (a
    resample is a global random multiset); the Poisson bootstrap
    (Chamandy et al. 2012 — built for exactly this, MapReduce-scale
    estimation) replaces it with an independent Poisson(1) weight per
    (row, replicate), correct because a multinomial with n draws over n
    rows converges to iid Poisson(1). Here even the Poisson draw is
    derandomized: md5(doc, rep) → uniform millionths → inverse-CDF
    table, so every engine, executor, and rerun draws the SAME
    replicates — reproducible error bars, and the whole statistic is
    oracle-hash-checked (no RNG to disagree on).

    Scale shape: a bounded ×REPS generate fan-out over the scan, then one
    map-side-combinable aggregate onto REPS keys. No shuffle of the
    corpus, no driver state; replicate statistics (here: drawn-row count,
    token sum, zero-weight count) stay exact integers end to end.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    drawn = docs.select(
        "n_chars",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOTSTRAP_REPS - 1))
        ).alias("rep"),
        F.col("doc_id"),
    ).select(
        "rep",
        "n_chars",
        F.expr(
            _poisson_weight_sql(
                "conv(substr(md5(concat(CAST(doc_id AS STRING), ':',"
                " CAST(rep AS STRING))), 1, 8), 16, 10) % 1000000"
            )
        ).alias("w"),
    )
    return drawn.groupBy("rep").agg(
        F.sum("w").cast("bigint").alias("n_drawn"),
        F.sum(F.col("w") * F.col("n_chars")).cast("bigint").alias(
            "token_sum"
        ),
        F.sum((F.col("w") == 0).cast("long")).cast("bigint").alias(
            "n_dropped"
        ),
    )


#: Per-user contribution ceiling for training-fairness / privacy capping.
USER_CAP_K = 50


@register(
    "sample_user_contribution_cap",
    category="sampling",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, event_id,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rn
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN rn <= {USER_CAP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= {USER_CAP_K} THEN event_id END)
                AS BIGINT) AS kept_id_sum
    FROM ranked
    GROUP BY user_id
    """,
)
def sample_user_contribution_cap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user contribution capping: at most K examples from any one user.

    The fairness / privacy / dedup guard every user-generated training
    corpus applies (and the precondition of user-level DP): heavy users
    otherwise dominate the gradient, and memorization risk concentrates
    in their long tails. The kept set is a deterministic md5-ordered
    top-K inside each user — a reproducible shuffle, so reruns and
    engines agree row-for-row (the kept-id checksum is part of the
    compared schema, not just the counts).

    Scale shape: ONE exchange keyed on user_id; the rank window's sort is
    partition-local and the per-user row count bounds its depth. No
    global sort, no second pass — the cap composes with every other
    hash-bucket sampler in this module.
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = events.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("rn") <= USER_CAP_K).cast("long")).cast("bigint").alias(
            "n_kept"
        ),
        F.sum(
            F.when(F.col("rn") <= USER_CAP_K, F.col("event_id"))
        ).cast("bigint").alias("kept_id_sum"),
    )


def _leakage_oracle() -> str:
    """Compose the registered split and LSH-pairs oracles (the
    ``dedup_lsh_recall_audit`` discipline) into the cross-split
    leakage audit."""
    split = QUERIES["split_train_test"].oracle
    pairs = QUERIES["dedup_minhash_lsh_pairs"].oracle
    return f"""
    WITH sp AS (SELECT doc_id, split FROM ({split})),
         pr AS (SELECT doc_a, doc_b FROM ({pairs})),
         crossed AS (
            SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
            FROM pr p JOIN sp a ON p.doc_a = a.doc_id
                      JOIN sp b ON p.doc_b = b.doc_id
         )
    SELECT CASE WHEN split_a <= split_b
                THEN split_a || '->' || split_b
                ELSE split_b || '->' || split_a END AS split_pair,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE split_a <> split_b) AS BIGINT)
               AS n_leaks,
           CAST(min(doc_a) AS BIGINT) AS example_doc_a,
           CAST(min(doc_b) AS BIGINT) AS example_doc_b
    FROM crossed
    GROUP BY 1
    """


@register(
    "split_leakage_audit",
    category="sampling",
    oracle=_leakage_oracle(),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test NEAR-DUP leakage audit — eval hygiene as a query.

    The evaluation-integrity check every benchmark pipeline needs and
    few run: a near-duplicate pair STRADDLING the train/test boundary
    silently inflates eval scores (the model saw the answer's twin in
    training), and a plain hash split does nothing to prevent it —
    duplicates hash independently.  The audit joins the REGISTERED
    near-dup pairs (``dedup_minhash_lsh_pairs``) to the REGISTERED
    split assignment (``split_train_test``), reports pair counts per
    split combination with the cross-split rows flagged as leaks, and
    carries example ids for triage.  Builders and oracle texts of both
    members are composed (the ``dedup_lsh_recall_audit`` discipline),
    so the audit cannot drift from the split or the pair pipeline it
    polices.  The fix it motivates is also registered:
    ``sample_group_kfold`` splits by SOURCE so twins travel together.

    Scale shape: pairs are LSH-banded (never corpus²); the split is a
    zero-shuffle projection; the audit adds two broadcast-able
    equi-joins on doc ids and a bounded (<=6 combinations) aggregate.
    """
    from data_preparation_plugin_spark.plans.dedup import (
        dedup_minhash_lsh_pairs,
    )

    sp = split_train_test(spark, sf_dir).select("doc_id", "split")
    pr = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    crossed = (
        pr.join(
            sp.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("split_a"),
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("split_b"),
            ),
            "doc_b",
        )
    )
    pair_key = F.when(
        F.col("split_a") <= F.col("split_b"),
        F.concat_ws("->", "split_a", "split_b"),
    ).otherwise(F.concat_ws("->", "split_b", "split_a"))
    return crossed.groupBy(pair_key.alias("split_pair")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("split_a") != F.col("split_b")).cast("bigint"))
        .cast("bigint")
        .alias("n_leaks"),
        F.min("doc_a").cast("bigint").alias("example_doc_a"),
        F.min("doc_b").cast("bigint").alias("example_doc_b"),
    )


#: End-to-end corpus assembly: global token budget split across languages
#: by temperature weight, then packed at this context length.
ASSEMBLY_TOKEN_BUDGET = 4000
ASSEMBLY_SEQ_LEN = 512


@register(
    "sample_corpus_assembly",
    category="sampling",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    ), counts AS (
        SELECT lang, count(*) AS n_docs,
               CAST(floor(sqrt(count(*))) AS BIGINT) AS w_num
        FROM sized GROUP BY lang
    ), denom AS (
        SELECT CAST(sum(w_num) AS BIGINT) AS s FROM counts
    ), budgets AS (
        SELECT c.lang, c.n_docs, c.w_num,
               ({ASSEMBLY_TOKEN_BUDGET} * c.w_num) // d.s AS token_budget
        FROM counts c CROSS JOIN denom d
    ), cum AS (
        SELECT z.doc_id, z.lang, z.n_tokens, b.token_budget,
               b.n_docs, b.w_num,
               CAST(sum(z.n_tokens) OVER (
                   PARTITION BY z.lang ORDER BY z.hx, z.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
        FROM sized z JOIN budgets b ON z.lang = b.lang
    )
    SELECT lang,
           min(n_docs)       AS n_docs,
           min(w_num)        AS w_num,
           min(token_budget) AS token_budget,
           CAST(sum(CASE WHEN cum_tokens <= token_budget THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_kept,
           CAST(sum(CASE WHEN cum_tokens <= token_budget
                         THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
           CAST((sum(CASE WHEN cum_tokens <= token_budget
                          THEN n_tokens ELSE 0 END) * 10000)
                // min(token_budget) AS BIGINT) AS util_bp,
           CAST((sum(CASE WHEN cum_tokens <= token_budget
                          THEN n_tokens ELSE 0 END)
                 + {ASSEMBLY_SEQ_LEN} - 1) // {ASSEMBLY_SEQ_LEN}
                AS BIGINT) AS n_sequences
    FROM cum
    GROUP BY lang
    """,
)
def sample_corpus_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pre-training corpus assembly: temperature mixture →
    per-language token budgets → greedy admission → packing manifest.

    The whole data-recipe pipeline the single-purpose samplers in this
    module are pieces of, composed into the one query a data engineer
    actually signs off on: per-language counts set temperature (α = 0.5)
    weights (``sample_temperature_mix``'s integer ``floor(sqrt(n))``
    scheme); a GLOBAL token budget is split across languages
    proportionally to those weights in pure integer arithmetic; each
    language admits documents in stable md5 order until ITS budget is
    exhausted (``sample_token_budget``'s greedy cap, re-based from
    per-source constants to mixture-derived budgets); and the output is
    the per-language assembly manifest — docs/tokens admitted, budget
    utilization in basis points, and how many ``ASSEMBLY_SEQ_LEN``-token
    packed sequences the slice yields (``sample_packed_sequences``'s
    accounting). Everything before the final ratio is integer, so 1000
    executors, DuckDB and a laptop produce the identical recipe —
    reproducibility is the contract a training-data manifest must meet.

    Scale shape: one map-side token count (text never shuffles — only
    (doc_id, lang, n_tokens, digest) rows move); a bounded per-language
    count aggregate whose weight/budget table broadcasts back; one
    exchange on ``lang`` for the running-sum window; and a final
    per-language rollup on the same exchange. Admission order is the
    md5 hash — data-independent, so the per-language prefix sums can be
    range-partitioned if one language dominates the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    from data_preparation_plugin_spark.functions.text import tokens as _toks

    sized = docs.select(
        "doc_id",
        "lang",
        F.size(_toks(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("hx"),
    )
    counts = sized.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.floor(F.sqrt(F.count(F.lit(1)))).cast("bigint").alias("w_num"),
    )
    denom = counts.agg(F.sum("w_num").cast("bigint").alias("s"))
    budgets = counts.crossJoin(F.broadcast(denom)).select(
        "lang",
        "n_docs",
        "w_num",
        F.expr(f"({ASSEMBLY_TOKEN_BUDGET} * w_num) div s").alias(
            "token_budget"
        ),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("hx", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.join(F.broadcast(budgets), "lang").withColumn(
        "cum_tokens", F.sum("n_tokens").over(w)
    )
    admitted = F.when(F.col("cum_tokens") <= F.col("token_budget"), 1).otherwise(0)
    admitted_tokens = F.when(
        F.col("cum_tokens") <= F.col("token_budget"), F.col("n_tokens")
    ).otherwise(F.lit(0))
    return cum.groupBy("lang").agg(
        F.min("n_docs").alias("n_docs"),
        F.min("w_num").alias("w_num"),
        F.min("token_budget").alias("token_budget"),
        F.sum(admitted).cast("bigint").alias("n_docs_kept"),
        F.sum(admitted_tokens).cast("bigint").alias("tokens_kept"),
        F.expr(
            "sum(CASE WHEN cum_tokens <= token_budget THEN n_tokens ELSE 0 END)"
            " * 10000 div min(token_budget)"
        ).alias("util_bp"),
        F.expr(
            "(sum(CASE WHEN cum_tokens <= token_budget THEN n_tokens"
            f" ELSE 0 END) + {ASSEMBLY_SEQ_LEN} - 1) div {ASSEMBLY_SEQ_LEN}"
        ).alias("n_sequences"),
    )


#: DSIR hashed-feature space: buckets for the n-gram hashing trick. Small
#: enough that the per-bucket weight table always broadcasts; at 100 TB a
#: deployment raises it to ~10^4 (the paper's setting) and the plan shape
#: is unchanged — the weight side stays kilobytes.
DSIR_BUCKETS = 64
#: Additive (Laplace) smoothing mass per bucket.
DSIR_ALPHA = 0.5


@register(
    "sample_dsir_importance",
    category="sampling",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(unnest(
                   string_split_regex(trim(lower(text)), '\\s+'))), 1, 8)
               )::BIGINT % {DSIR_BUCKETS} AS bucket
        FROM documents
    ), counts AS (
        SELECT bucket,
               count(*) AS cr,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        FROM tok GROUP BY bucket
    ), totals AS (
        SELECT sum(cr) AS tr, sum(ct) AS tt FROM counts
    ), weights AS (
        SELECT c.bucket,
               ln((c.ct + {DSIR_ALPHA}) / (t.tt + {DSIR_ALPHA} * {DSIR_BUCKETS}))
             - ln((c.cr + {DSIR_ALPHA}) / (t.tr + {DSIR_ALPHA} * {DSIR_BUCKETS}))
                   AS w
        FROM counts c CROSS JOIN totals t
    )
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT)          AS n_tokens,
           round(sum(weights.w), 4)          AS dsir_logweight,
           CASE WHEN round(sum(weights.w), 4) > 0 THEN 1 ELSE 0 END
               AS selected
    FROM tok JOIN weights ON tok.bucket = weights.bucket
    GROUP BY tok.doc_id
    """,
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR: data selection via importance resampling (Xie et al., 2023).

    The published recipe for steering a raw web corpus toward a target
    domain without training a classifier: hash every token into a small
    feature space (the hashing trick), fit bag-of-buckets unigram models
    for the target slice (here ``lang = 'en'`` — the fixture's stand-in
    for "looks like Wikipedia") and the raw corpus, and score each
    document by its log importance weight ``Σ_tokens ln p_target(b) −
    ln p_raw(b)`` under Laplace smoothing. ``selected`` marks documents
    whose weight says "more target-like than raw" — the resampling step
    keeps these (optionally with Gumbel noise; omitted so the score is
    exactly reproducible).

    Scale shape: one token explode (linear, no text shuffled — only
    (doc_id, lang, bucket) rows move); ONE map-side-combinable aggregate
    on {DSIR_BUCKETS} keys computes raw and target counts together
    (target is a filtered count inside the same pass, not a second scan);
    the weight table is {DSIR_BUCKETS} rows cross-joined with a 1-row
    total and broadcast back onto the token stream; the per-doc sum
    re-uses the doc_id partitioning. Nothing in the plan depends on
    corpus size except the embarrassingly-parallel map side.
    """
    docs = load_table(spark, sf_dir, "documents")
    from data_preparation_plugin_spark.functions.text import tokens as _toks

    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(_toks(F.col("text"))).alias("token"),
    ).select("doc_id", "lang", hash_bucket("token", DSIR_BUCKETS))
    # counts feeds BOTH the weight table and the totals scalar; without a
    # materialization each consumer re-runs the corpus token aggregate —
    # two full explode+shuffle passes over the corpus for a 64-row
    # result. The checkpoint is DSIR_BUCKETS rows, never the corpus
    # (sf0.1 best-of-3 A/B: 1.404s -> 1.076s, bucket exchanges 2 -> 1).
    counts = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    ).localCheckpoint(eager=True)
    totals = counts.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    a, b = float(DSIR_ALPHA), DSIR_ALPHA * DSIR_BUCKETS
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("ct") + a) / (F.col("tt") + b))
            - F.log((F.col("cr") + a) / (F.col("tr") + b))
        ).alias("w"),
    )
    return (
        tok.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("w"), 4).alias("dsir_logweight"),
            # Gate on the ROUNDED sum, identically to the oracle: the
            # per-bucket weights come from ln (last-ulp engine-dependent)
            # and summation order differs between engines, so a raw-float
            # `> 0` on a weight-sum within noise of zero could flip the
            # checked integer between engines (ADVICE r13).
            F.when(F.round(F.sum("w"), 4) > 0, 1)
            .otherwise(0)
            .alias("selected"),
        )
    )
