"""BPE training: the distributed trainer must reproduce a reference Python
implementation of the public algorithm exactly — merge sequence and final
segmentation — and behave sanely on the real documents table."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from procurement_data_pipeline_spark.llm_ops.bpe import (
    EOW,
    bpe_segment,
    bpe_train,
    merge_pair_expr,
    word_frequencies,
)
from procurement_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- reference


def _ref_merge(toks: list[str], a: str, b: str) -> list[str]:
    """Greedy leftmost non-overlapping merge — the spec the JVM fold mirrors."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _ref_train(word_freqs: dict[str, int], num_merges: int, min_pair_freq: int = 2):
    vocab = {w: list(w) + [EOW] for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        pair_counts: Counter = Counter()
        for w, toks in vocab.items():
            f = word_freqs[w]
            for i in range(len(toks) - 1):
                pair_counts[(toks[i], toks[i + 1])] += f
        if not pair_counts:
            break
        # max count, ties by (a, b) ascending — the trainer's contract
        (a, b), c = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_pair_freq:
            break
        merges.append((a, b))
        vocab = {w: _ref_merge(t, a, b) for w, t in vocab.items()}
    return merges, vocab


# -------------------------------------------------------------------- tests


def test_merge_pair_expr_matches_reference_incl_overlaps(spark):
    # "" is excluded: Spark's split("", "") is [""] where Python's list("")
    # is [] — and word_frequencies filters empty words before training, so
    # the divergence is unreachable in the operator.
    cases = ["aaaa", "abab", "aab", "banana", "a"]
    df = spark.createDataFrame([(c,) for c in cases], "w string")
    got = {
        r["w"]: r["m"]
        for r in df.select(
            "w",
            merge_pair_expr(F.concat(F.split("w", ""), F.array(F.lit(EOW))), "a", "a")
            .alias("m"),
        ).collect()
    }
    for c in cases:
        assert got[c] == _ref_merge(list(c) + [EOW], "a", "a"), c


def test_bpe_train_matches_reference(spark):
    corpus = [
        "low lower lowest low low",
        "newer newest new new newer",
        "wider wide widest",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    wf = {
        r["w"]: r["freq"] for r in word_frequencies(df, "text").collect()
    }
    ref_merges, ref_vocab = _ref_train(wf, num_merges=8)
    got_merges = bpe_train(df, "text", num_merges=8)
    assert got_merges == ref_merges
    assert len(got_merges) == 8

    # Segmenting with the learned merges reproduces the reference vocab.
    wdf = spark.createDataFrame([(w,) for w in wf], "w string")
    seg = {
        r["w"]: r["s"]
        for r in wdf.select("w", bpe_segment("w", got_merges).alias("s")).collect()
    }
    assert seg == ref_vocab


def test_bpe_train_on_documents_table(spark):
    docs = load_table(spark, SF_DIR, "documents")
    merges = bpe_train(docs, "text", num_merges=6)
    assert len(merges) == 6
    assert len(set(merges)) == 6  # no repeated merge
    # Learned merges compress: mean tokens per word strictly decreases.
    wf = word_frequencies(docs, "text")
    base = wf.select(
        F.sum(F.size(F.concat(F.split("w", ""), F.array(F.lit(EOW)))) * F.col("freq"))
    ).collect()[0][0]
    after = wf.select(
        F.sum(F.size(bpe_segment("w", merges)) * F.col("freq"))
    ).collect()[0][0]
    assert after < base


def test_bpe_vocab_releases_round_caches(spark):
    """Each merge round frees the previous round's persisted segmentation,
    and the harness's release frees the rest: after docs_bpe_vocab builds,
    no block it persisted stays pinned."""
    from procurement_data_pipeline_spark.caching import release_cached
    from procurement_data_pipeline_spark.registry import load_all

    release_cached(blocking=True)
    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    load_all()["docs_bpe_vocab"].builder(spark, SF_DIR).collect()
    release_cached(blocking=True)
    # <=, not ==: the context cleaner may free older, unrelated blocks
    assert jsc.getPersistentRDDs().size() <= baseline
