"""Declared corpus-curation queries: mixture reweighting, benchmark
decontamination, sequence packing, repetition filtering.

These register after the 50 driver-graded oracle queries; their oracles are
exercised by the local replica (``tools/check_oracle.py``) and pytest, like
the other overflow entries in :mod:`queries.augment`.

Every decision keys on the portable md5 hash or pure arithmetic, so each
query carries an exact DuckDB oracle — including the window-function packing
and the mixture keep-rate computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.llm_ops.curation import (
    corpus_mix,
    decontaminate,
    pack_sequences,
    repetition_metrics,
)
from procurement_data_pipeline_spark.operators.parallelism import widen_scan
from procurement_data_pipeline_spark.registry import register
from procurement_data_pipeline_spark.sources.tables import load_table

# DuckDB equivalents of text.normalize_text / words (same macros as
# queries/text.py — kept in sync by tests/test_curation.py round-trips).
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_WORDS = f"string_split({_NORM}, ' ')"
# 8-gram shingles, the decontamination unit: list slice is 1-based inclusive.
_W8 = (
    f"list_transform(range(1, len({_WORDS}) - 6),"
    f" i -> array_to_string(({_WORDS})[i:i+7], ' '))"
)
# Deterministic per-source target weight, derivable from the name in both
# engines: sources srcN get weight 1 + (N mod 3), i.e. a 1:2:3 recipe.
_WEIGHT = "1 + (CAST(SUBSTR(source, 4) AS INT) % 3)"


@register(
    "docs_corpus_mix",
    oracle=f"""
WITH wts AS (
  SELECT source, {_WEIGHT} AS weight
  FROM (SELECT DISTINCT source FROM documents)
), counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), rated AS (
  SELECT c.source, c.n, w.weight FROM counts c JOIN wts w USING (source)
), rates AS (
  SELECT source,
         LEAST(1.0, (SELECT MIN(CAST(n AS DOUBLE) / weight) FROM rated)
                    * weight / CAST(n AS DOUBLE)) AS keep_rate
  FROM rated
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE r.keep_rate >= 1.0
   OR SUBSTR(md5(COALESCE(CAST(d.doc_id AS VARCHAR), '<null>') || 'mix'), 1, 8)
      < printf('%08x', CAST(FLOOR(r.keep_rate * 4294967296) AS BIGINT))
""",
    tags=("llm", "curation"),
)
def q_docs_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting to a 1:2:3 source recipe — proportional hash
    downsampling that keeps all of the scarcest source (llm_ops/curation.py
    corpus_mix: tiny-agg + broadcast rates + pure filter; one corpus scan)."""
    docs = load_table(spark, sf_dir, "documents")
    weights = (
        docs.select("source")
        .distinct()
        .withColumn("weight", F.expr(_WEIGHT))
    )
    return corpus_mix(docs, weights).select("doc_id", "source")


@register(
    "docs_decontaminate",
    # Join key = 16-hex md5 prefix of each gram (same expression the Spark
    # side computes before its distinct), so both engines shuffle/compare
    # identical hashed keys — bit-identical even on hash collisions.
    oracle=f"""
WITH tr AS (
  SELECT DISTINCT doc_id AS _id,
         unnest(list_transform({_W8}, g -> SUBSTR(md5(g), 1, 16))) AS w
  FROM documents WHERE source <> 'src0'
), ev AS (
  SELECT DISTINCT unnest(list_transform({_W8}, g -> SUBSTR(md5(g), 1, 16))) AS w
  FROM documents WHERE source = 'src0'
), hits AS (
  SELECT _id, COUNT(*) AS n FROM tr JOIN ev USING (w) GROUP BY _id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated_ngrams,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
LEFT JOIN hits h ON h._id = d.doc_id
""",
    tags=("llm", "curation"),
)
def q_docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage scrub: treat source src0 as the eval set and count
    each remaining document's distinct 8-grams that appear in it (inverted-
    index equi-join on the gram — llm_ops/curation.py decontaminate)."""
    docs = load_table(spark, sf_dir, "documents")
    # Widen the single-split scan (guide §2.5): both the corpus and eval
    # sides tokenize from the same repartition subtree (exchange reused),
    # parallelizing the 8-gram shingling.
    docs = widen_scan(docs, "doc_id")
    return decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


@register(
    "docs_pack_sequences",
    oracle="""
WITH b AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef',
                  SUBSTR(md5(COALESCE(CAST(doc_id AS VARCHAR), '<null>') || 'pack'), 1, 1)
           ) - 1) * 16
          + strpos('0123456789abcdef',
                   SUBSTR(md5(COALESCE(CAST(doc_id AS VARCHAR), '<null>') || 'pack'), 2, 1)
            ) - 1) % 16 AS bucket,
         md5(COALESCE(CAST(doc_id AS VARCHAR), '<null>') || 'pack') AS _h,
         CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
           AS tok_count
  FROM documents
), c AS (
  SELECT doc_id, bucket, tok_count,
         SUM(tok_count) OVER (
           PARTITION BY bucket ORDER BY _h, doc_id, tok_count
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM b
)
SELECT doc_id, bucket, tok_count,
       CAST(FLOOR((cum - tok_count) / 512.0) AS BIGINT) AS seq_index,
       CAST((cum - tok_count) % 512 AS BIGINT) AS seq_offset
FROM c
""",
    tags=("llm", "curation"),
)
def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-then-chop sequence packing at a 512-token budget over
    16 hash-routed packing streams (llm_ops/curation.py pack_sequences: the
    running token sum is a window per bucket, so parallelism = n_buckets)."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=512, n_buckets=16)


@register(
    "docs_repetition_metrics",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_WORDS}) AS DOUBLE) AS _total,
         CAST(len(list_distinct({_WORDS})) AS DOUBLE) AS _distinct,
         unnest({_WORDS}) AS _w
  FROM documents
), pw AS (
  SELECT doc_id, _total, _distinct, _w, COUNT(*) AS _wc
  FROM base GROUP BY 1, 2, 3, 4
), agg AS (
  SELECT doc_id, _total, _distinct, CAST(MAX(_wc) AS DOUBLE) AS _top
  FROM pw GROUP BY 1, 2, 3
)
SELECT doc_id,
       1.0 - _distinct / _total AS dup_word_frac,
       _top / _total AS top_word_frac,
       (1.0 - _distinct / _total) > 0.8 OR (_top / _total) > 0.3 AS repetitive
FROM agg
""",
    tags=("llm", "curation", "quality"),
)
def q_docs_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction (pure array
    expressions) and top-word share (one explode + per-doc aggregate) —
    llm_ops/curation.py repetition_metrics."""
    return repetition_metrics(load_table(spark, sf_dir, "documents"))


@register(
    "docs_vocab_topk",
    oracle=f"""
SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM (SELECT unnest({_WORDS}) AS w FROM documents)
GROUP BY w
ORDER BY n_occurrences DESC, word ASC
LIMIT 30
""",
    tags=("llm", "curation", "vocab"),
)
def q_docs_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: exact top-30 words by occurrence (explode +
    count + TakeOrderedAndProject; deterministic word tie-break). The
    unbounded-domain scale path is llm_ops/sketch.frequent_items (space-
    saving heavy hitters: shuffle = partitions x capacity, not domain)."""
    from procurement_data_pipeline_spark.llm_ops.text import words

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
        .limit(30)
    )


@register(
    "docs_vocab_topk_sketch",
    oracle=None,  # approximate by contract — guarantee is pytest-verified
    tags=("llm", "curation", "vocab", "sketch"),
)
def q_docs_vocab_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-saving heavy hitters over the exploded word stream — the
    bounded-shuffle form of docs_vocab_topk for unbounded domains."""
    from procurement_data_pipeline_spark.llm_ops.sketch import frequent_items
    from procurement_data_pipeline_spark.llm_ops.text import words

    docs = load_table(spark, sf_dir, "documents")
    stream = docs.select(F.explode(words("text")).alias("word"))
    return frequent_items(stream, "word", k=30, capacity=512)


# 3-gram shingles for the near-dup clustering step — IMPORTED from
# queries/text.py (not copied) so this oracle's clustering can never drift
# from the docs_dedup_clusters derivation it must mirror verbatim.
from procurement_data_pipeline_spark.queries.text import _EN, _W3  # noqa: E402


@register(
    "docs_cluster_safe_split",
    # Near-dup clusters (exact Jaccard >= 0.8 on 3-grams -> connected
    # components, the docs_dedup_clusters derivation verbatim), then the
    # portable md5-threshold split applied to the CLUSTER id: members of a
    # cluster always land on the same side. 0.2 * 2^32 = 858993459 -> the
    # '33333333' prefix threshold, floor semantics on both engines.
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT DISTINCT doc_id AS _id, unnest({_W3}) AS w
  FROM documents
),
sizes AS (
  SELECT _id, COUNT(*) AS _sz FROM sh GROUP BY _id
),
inter AS (
  SELECT a._id AS doc_a, b._id AS doc_b, COUNT(*) AS _inter
  FROM sh a JOIN sh b ON a.w = b.w AND a._id < b._id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON doc_a = sa._id
  JOIN sizes sb ON doc_b = sb._id
  WHERE CAST(_inter AS DOUBLE) / CAST(sa._sz + sb._sz - _inter AS DOUBLE) >= 0.8
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src AS id, src AS label FROM edges
  UNION
  SELECT e.dst AS id, r.label
  FROM edges e JOIN reach r ON e.src = r.id
),
comp AS (
  SELECT id, MIN(label) AS component FROM reach GROUP BY id
),
clustered AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, cluster_id,
       CASE WHEN SUBSTR(md5(COALESCE(CAST(cluster_id AS VARCHAR), '<null>')
                            || 'split'), 1, 8)
                 < printf('%08x', CAST(FLOOR(0.2 * 4294967296) AS BIGINT))
            THEN 'eval' ELSE 'train' END AS split
FROM clustered
""",
    tags=("llm", "curation", "sampling", "dedup"),
)
def q_docs_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe holdout at near-dup-cluster granularity: exact Jaccard
    pairs (theta=0.8, 3-grams) -> connected components -> md5-threshold
    split on the CLUSTER id, so no near-duplicate pair ever straddles
    train/eval (llm_ops/sampling.cluster_safe_split). The per-document
    hash split (docs_hash_sample / split_train_eval) cannot give this
    guarantee — two 0.95-Jaccard docs hash independently."""
    from procurement_data_pipeline_spark.llm_ops.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )
    from procurement_data_pipeline_spark.llm_ops.sampling import cluster_safe_split

    # widened scan: n-gram shingling + PPJoin prefix expansion is heavy
    # per-row text work that a single-split source serializes (guide §2.5)
    docs = widen_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    clusters = dedup_clusters(docs, pairs)
    return cluster_safe_split(
        clusters.select("doc_id", "cluster_id"), eval_fraction=0.2
    )


# Shared md5-key expression for the packing oracles.
_PACK_H = "md5(COALESCE(CAST(doc_id AS VARCHAR), '<null>') || 'pack')"
_HEXPOS = lambda i: f"(strpos('0123456789abcdef', SUBSTR({_PACK_H}, {i}, 1)) - 1)"  # noqa: E731


@register(
    "docs_pack_sequences_2level",
    # The two-level stitched packing equals ONE window over the total order
    # (sub, _h, doc_id, tok_count) within each bucket — concatenating
    # sub-streams in sub order IS that cumulative sum — so the oracle needs
    # no stitching arithmetic at all: it checks the distributed form
    # against the mathematically-equivalent single-window definition.
    oracle=f"""
WITH b AS (
  SELECT doc_id,
         ({_HEXPOS(1)} * 16 + {_HEXPOS(2)}) % 16 AS bucket,
         ({_HEXPOS(5)} * 16 + {_HEXPOS(6)}) % 16 AS sub,
         {_PACK_H} AS _h,
         CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
           AS tok_count
  FROM documents
), c AS (
  SELECT doc_id, bucket, tok_count,
         SUM(tok_count) OVER (
           PARTITION BY bucket ORDER BY sub, _h, doc_id, tok_count
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM b
)
SELECT doc_id, bucket, tok_count,
       CAST(FLOOR((cum - tok_count) / 512.0) AS BIGINT) AS seq_index,
       CAST((cum - tok_count) % 512 AS BIGINT) AS seq_offset
FROM c
""",
    tags=("llm", "curation", "scale"),
)
def q_docs_pack_sequences_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sequence packing (llm_ops/curation.pack_sequences_two_level):
    16 buckets x 16 sub-streams pack independently, then per-sub-stream
    token totals stitch via an exclusive prefix over a 256-row relation —
    the longest serial step at ANY corpus size is that tiny prefix, where
    one-level packing must sort a whole bucket in one task."""
    from procurement_data_pipeline_spark.llm_ops.curation import (
        pack_sequences_two_level,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences_two_level(
        docs, seq_len=512, n_buckets=16, n_sub=16
    )


@register(
    "docs_corpus_mix_temperature",
    # Square-root (T=2) temperature mix: weights derive from the observed
    # per-source counts as sqrt(n) — IEEE-exact on both engines — then the
    # same keep-rate + md5-threshold machinery as docs_corpus_mix. The
    # scarcest source keeps rate 1 exactly (C = min(sqrt(n))).
    oracle="""
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), rated AS (
  SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS weight FROM counts
), rates AS (
  SELECT source,
         LEAST(1.0, (SELECT MIN(CAST(n AS DOUBLE) / weight) FROM rated)
                    * weight / CAST(n AS DOUBLE)) AS keep_rate
  FROM rated
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE r.keep_rate >= 1.0
   OR SUBSTR(md5(COALESCE(CAST(d.doc_id AS VARCHAR), '<null>') || 'mix'), 1, 8)
      < printf('%08x', CAST(FLOOR(r.keep_rate * 4294967296) AS BIGINT))
""",
    tags=("llm", "curation", "temperature"),
)
def q_docs_corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled source mixture (alpha=0.5 square-root sampling):
    the recipe is DERIVED from the corpus (weight = sqrt(n_s)) instead of
    hand-written, flattening the natural skew toward uniform — the standard
    multilingual/multi-domain rebalancing step. Same one-scan cost as
    docs_corpus_mix."""
    from procurement_data_pipeline_spark.llm_ops.curation import (
        corpus_mix,
        temperature_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return corpus_mix(docs, temperature_weights(docs, alpha=0.5)).select(
        "doc_id", "source"
    )


@register(
    "docs_quality_weighted_sample",
    # Stepped keep-rates by quality tier (>=0.8 keep all, >=0.5 keep 1/2,
    # else keep 1/8) over the bit-stable quality score; md5 thresholds are
    # constants, so the selection replays exactly.
    oracle=f"""
WITH feats AS (
  SELECT doc_id, source,
         CAST(len({_WORDS}) AS DOUBLE) AS wc,
         CAST(len(list_filter({_WORDS}, w -> list_contains([{_EN}], w))) AS DOUBLE) AS sw,
         CAST(length(text) AS DOUBLE) AS chars
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         LEAST(1.0, wc / 100.0) * 0.4
         + LEAST(1.0, (sw / wc) * 4.0) * 0.3
         + LEAST(1.0, (chars / wc) / 8.0) * 0.3 AS q
  FROM feats
),
rated AS (
  SELECT doc_id, source, q,
         CASE WHEN q >= 0.8 THEN 1.0
              WHEN q >= 0.5 THEN 0.5
              ELSE 0.125 END AS keep_rate
  FROM scored
)
SELECT doc_id, source, q AS quality_score
FROM rated
WHERE keep_rate >= 1.0
   OR SUBSTR(md5(COALESCE(CAST(doc_id AS VARCHAR), '<null>') || 'qsample'), 1, 8)
      < printf('%08x', CAST(FLOOR(keep_rate * 4294967296) AS BIGINT))
""",
    tags=("llm", "curation", "quality-sampling"),
)
def q_docs_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering: stepped deterministic keep-rates by quality
    tier (llm_ops/curation.quality_weighted_sample) — one scan, zero
    shuffles; the reproducible alternative to a hard cutoff."""
    from procurement_data_pipeline_spark.llm_ops.curation import (
        quality_weighted_sample,
    )
    from procurement_data_pipeline_spark.llm_ops.text import quality_score

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score("text").alias("quality_score")
    )
    return quality_weighted_sample(docs).select(
        "doc_id", "source", "quality_score"
    )


@register(
    "docs_oov_rate",
    # Out-of-vocabulary analysis: build the corpus top-1000 vocabulary
    # (deterministic count-then-word tie-break), then each document's
    # fraction of word occurrences outside it — the coverage signal that
    # drives tokenizer-vocabulary sizing. Rates are single divisions of
    # exact counts.
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_WORDS}) AS word FROM documents
),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS n FROM tok GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 1000
  )
),
flags AS (
  SELECT t.doc_id,
         CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t LEFT JOIN vocab v ON t.word = v.word
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
FROM flags GROUP BY doc_id
""",
    tags=("llm", "curation", "vocab"),
)
def q_docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-1000
    vocabulary. The vocabulary is a bounded TakeOrdered result broadcast
    into a LEFT join over the token stream; per-doc counts are one
    map-combinable aggregation."""
    from procurement_data_pipeline_spark.llm_ops.text import words

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(words("text")).alias("word"))
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(1000)
        .select("word", F.lit(1).alias("_in_vocab"))
    )
    flags = tok.join(F.broadcast(vocab), "word", "left")
    return flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
        (
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )


@register(
    "docs_length_buckets",
    # Length-bucketed batching analysis: assign each document to a fixed
    # power-of-two token-capacity bucket and measure the padding a
    # batch-by-bucket trainer would waste — the signal behind bucketed
    # batching (pad-to-longest within a bucket, not the corpus max).
    oracle=f"""
WITH t AS (
  SELECT doc_id, len({_WORDS}) AS n_tokens FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens <= 64 THEN 64
              WHEN n_tokens <= 128 THEN 128
              WHEN n_tokens <= 256 THEN 256
              WHEN n_tokens <= 512 THEN 512
              WHEN n_tokens <= 1024 THEN 1024
              ELSE 2048 END AS bucket_cap
  FROM t
)
SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(bucket_cap - n_tokens) AS BIGINT) AS padding_tokens,
       CAST(SUM(bucket_cap - n_tokens) AS DOUBLE)
       / (CAST(COUNT(*) AS DOUBLE) * bucket_cap) AS waste_frac
FROM b GROUP BY bucket_cap
""",
    tags=("llm", "curation", "batching"),
)
def q_docs_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste profile of power-of-two length bucketing: one pure
    projection (fixed CASE edges, engine-portable) + one tiny grouped
    aggregation — the measurement that justifies (or kills) a bucketed
    batching strategy for a given corpus."""
    from procurement_data_pipeline_spark.llm_ops.text import word_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", word_count("text").cast("long").alias("n_tokens")
    )
    cap = (
        F.when(F.col("n_tokens") <= 64, 64)
        .when(F.col("n_tokens") <= 128, 128)
        .when(F.col("n_tokens") <= 256, 256)
        .when(F.col("n_tokens") <= 512, 512)
        .when(F.col("n_tokens") <= 1024, 1024)
        .otherwise(2048)
        .cast("long")
    )
    b = docs.withColumn("bucket_cap", cap)
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tokens")).alias("padding_tokens"),
        (
            F.sum(F.col("bucket_cap") - F.col("n_tokens")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.col("bucket_cap"))
        ).alias("waste_frac"),
    )


@register(
    "docs_chunking",
    # Overlapping-window document chunking (RAG / context-window prep):
    # 100-word chunks with 20-word overlap -> stride 80; chunk k covers
    # words [1 + 80k, 1 + 80k + 99]. Pure array expressions (sequence +
    # slice), no UDF; word counts are exact ints so the chunk layout is
    # engine-portable. Emits one row per chunk with its word span and a
    # first-words fingerprint prefix.
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_WORDS} AS ws, len({_WORDS}) AS n FROM documents
),
chunks AS (
  SELECT doc_id, n,
         unnest(range(0, CASE WHEN n <= 100 THEN 1
                              ELSE 1 + CAST(CEIL((n - 100) / 80.0) AS BIGINT)
                         END)) AS chunk_idx,
         ws
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(1 + 80 * chunk_idx AS BIGINT) AS start_word,
       CAST(LEAST(CAST(n AS BIGINT), 80 * chunk_idx + 100) - 80 * chunk_idx
            AS BIGINT) AS n_words,
       md5(array_to_string(ws[(1 + 80 * chunk_idx):(80 * chunk_idx + 100)], ' '))
         AS chunk_md5
FROM chunks
""",
    tags=("llm", "curation", "chunking"),
)
def q_docs_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping chunk layout per document (stride 80, window 100): the
    retrieval/context-prep primitive. One projection with a bounded
    per-doc sequence explode — no shuffle at all until a consumer
    aggregates."""
    from procurement_data_pipeline_spark.llm_ops.text import words

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", words("text").alias("ws")).withColumn(
        "n", F.size("ws").cast("long")
    )
    n_chunks = F.when(F.col("n") <= 100, F.lit(1).cast("long")).otherwise(
        1 + F.ceil((F.col("n") - 100) / F.lit(80.0)).cast("long")
    )
    chunks = t.select(
        "doc_id",
        "n",
        "ws",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    start = 1 + 80 * F.col("chunk_idx")
    return chunks.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_word"),
        (
            F.least(F.col("n"), 80 * F.col("chunk_idx") + 100)
            - 80 * F.col("chunk_idx")
        ).alias("n_words"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("ws"), start.cast("int"), 100))
        ).alias("chunk_md5"),
    )


@register(
    "docs_interleaved_shuffle",
    # Deterministic corpus shuffle with source interleaving — the
    # document-ordering step of a training run. A plain hash shuffle can
    # leave source-correlated runs (one source's docs clumping into
    # consecutive batches); ranking WITHIN each source by the portable md5
    # key and then ordering globally by (src_rank, source) round-robins
    # the sources at every rank level, so any contiguous training window
    # sees sources in their corpus proportions. Reproducible byte-for-byte
    # from the data alone (no RNG state), and re-runnable: adding a doc
    # perturbs only its own source's ranks.
    #
    # Scale shape: one window per source (shuffle keyed on source) plus
    # the global position rank. The global ORDER BY (src_rank, source) is
    # a total order with a SINGLE window task here; at petabyte scale the
    # same order ships as a range-partitioned sort (sortWithinPartitions
    # + per-partition offsets — the exact stitching pattern proved by
    # pack_sequences_2level). global_pos is 0-based.
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(COALESCE(CAST(doc_id AS VARCHAR), '<null>')), doc_id
         ) AS BIGINT) AS src_rank
  FROM documents
)
SELECT doc_id, source, src_rank,
       CAST(ROW_NUMBER() OVER (ORDER BY src_rank, source) - 1 AS BIGINT)
         AS global_pos
FROM ranked
""",
    tags=("documents", "shuffle", "training-order"),
)
def q_docs_interleaved_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin interleaved deterministic shuffle (see register block)."""
    from procurement_data_pipeline_spark.llm_ops.sampling import hash_key
    from pyspark.sql import Window

    from procurement_data_pipeline_spark.caching import scoped_persist
    from procurement_data_pipeline_spark.operators.ranks import (
        with_global_rank,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = scoped_persist(
        docs.withColumn(
            "src_rank",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(hash_key("doc_id"), "doc_id")
            )
            .cast("long"),
        )
    )
    # the interleave position is a global rank over DOC grain — use the
    # distributed exact rank (operators/ranks.py), not a no-partition
    # Window's single-partition sort; (src_rank, source) is a strict
    # total order because src_rank is unique within each source
    return with_global_rank(
        ranked, [F.col("src_rank").asc(), F.col("source").asc()], "_gp"
    ).select(
        "doc_id",
        "source",
        "src_rank",
        (F.col("_gp") - 1).cast("long").alias("global_pos"),
    )
