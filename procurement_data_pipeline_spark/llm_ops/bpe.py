"""Distributed BPE tokenizer training (byte-pair encoding, Sennrich et al.
2016 — public algorithm) on the word-frequency table of a corpus.

Training a tokenizer is part of the LLM data pipeline proper: the corpus
engine that dedups/filters the text is also the natural place to learn the
merge table, because the expensive input — word frequencies over 100 TB — is
one grouped count it already knows how to do. After that reduction the
classic algorithm is iterative:

    repeat k times:
      1. count adjacent token pairs, weighted by word frequency
      2. take the most frequent pair (deterministic tie-break)
      3. merge that pair everywhere (greedy left-to-right)

Distribution shape: step 1 is an explode + map-side-combinable grouped sum
over the VOCABULARY (not the corpus — frequencies collapse the 100 TB to
|vocab| rows); step 2 is a 1-row TakeOrdered collect per round (bounded,
documented — k tiny jobs); step 3 is a pure JVM array-lambda projection
(no UDF). The token arrays are re-persisted each round so round r+1 scans
materialized arrays instead of replaying r rounds of lambda lineage.

The merge itself (greedy, leftmost-first, non-overlapping — "aa"+"aa" in
"aaaa" merges positions 1-2 and 3-4, not 2-3) is the same single pass the
reference Python implementation below the tests uses; equality against it is
pytest-pinned per round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.caching import scoped_persist
from procurement_data_pipeline_spark.llm_ops.text import words

#: End-of-word marker (kept out of the raw char alphabet by construction).
EOW = "▁"


def merge_pair_expr(toks: Column, a: str, b: str) -> Column:
    """Greedy leftmost non-overlapping merge of adjacent (a, b) -> a+b.

    A left fold over element indices carrying (out_array, skip_next): when
    position i starts an (a, b) bigram, emit the merged token and skip the
    next element. Pure JVM `aggregate` lambda — one pass per word, no UDF.
    """
    merged = F.lit(a + b)
    return F.aggregate(
        F.sequence(F.lit(1), F.size(toks)),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(False).alias("skip"),
        ),
        lambda acc, i: F.when(
            acc["skip"],
            F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
        ).when(
            (i < F.size(toks))
            & (F.element_at(toks, i) == F.lit(a))
            & (F.element_at(toks, i + 1) == F.lit(b)),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(True).alias("skip"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(F.element_at(toks, i))).alias("out"),
                F.lit(False).alias("skip"),
            )
        ),
        lambda acc: acc["out"],
    )


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq) over the normalized word stream — the corpus-sized pass
    that everything downstream amortizes."""
    return (
        df.select(F.explode(words(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _char_tokens(w: Column) -> Column:
    """Initial tokenization: characters plus the end-of-word marker."""
    return F.concat(F.split(w, ""), F.array(F.lit(EOW)))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 16,
    min_pair_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` BPE merges from a corpus; returns the
    ordered merge list. Stops early when no pair reaches ``min_pair_freq``.

    Each round: one vocabulary-sized aggregation + a 1-row collect + one
    array projection. Ties break on (pair_a, pair_b) so the merge sequence
    is deterministic across runs and cluster layouts.
    """
    cur = scoped_persist(
        word_frequencies(df, text_col).select(
            "freq", _char_tokens(F.col("w")).alias("toks")
        )
    )
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = cur.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("a"),
                        F.element_at(F.col("toks"), i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < min_pair_freq:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = scoped_persist(
            cur.select("freq", merge_pair_expr(F.col("toks"), a, b).alias("toks"))
        )
        nxt.count()  # materialize before dropping the previous round
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return merges


def bpe_segment(col: str | Column, merges: list[tuple[str, str]]) -> Column:
    """Apply an ordered merge list to a single word column: chars + EOW,
    then each merge in training order (the standard greedy application).
    ``num_merges`` chained array lambdas — still zero UDFs.

    Each round's input is LET-BOUND behind a single-element ``transform``
    before the next merge references it: ``merge_pair_expr`` reads its
    input array several times (size + two element_at probes per step), so
    naive chaining re-inlines the whole previous tree at every reference —
    the expression grows ~4^k nodes and Catalyst analysis explodes
    (observed: minutes at k=8). Binding each round to a lambda variable
    keeps growth linear in the merge count."""
    toks = _char_tokens(F.col(col) if isinstance(col, str) else col)
    for a, b in merges:
        toks = F.element_at(
            F.transform(F.array(toks), lambda t: merge_pair_expr(t, a, b)),
            1,
        )
    return toks
