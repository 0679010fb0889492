"""Semantic tests for the corpus-curation operators (llm_ops/curation.py).

The registered queries carry exact DuckDB oracles (hash-checked by
tools/check_oracle.py); these tests pin the SEMANTICS — proportions,
leakage detection, packing invariants, repetition math — on constructed
inputs where the right answer is known by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.llm_ops.curation import (
    corpus_mix,
    decontaminate,
    pack_sequences,
    repetition_metrics,
)
from procurement_data_pipeline_spark.registry import load_all
from procurement_data_pipeline_spark.sources.tables import load_table


def test_corpus_mix_hits_target_proportions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("src0", 1), ("src1", 2), ("src2", 3)], ["source", "weight"]
    )
    subset = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    out = corpus_mix(subset, weights)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r["source"]: r["n"] for r in subset.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # The heaviest source is kept in full (max-size, no-upsampling solution).
    assert counts["src2"] == base["src2"]
    # Hash sampling is binomial per doc, so proportions are approximate at
    # n=25 per source; check rates are ordered and in sane bands.
    r0, r1, r2 = (counts[s] / base[s] for s in ("src0", "src1", "src2"))
    assert r0 < r1 < r2 == 1.0
    assert 0.1 < r0 < 0.6 and 0.4 < r1 < 0.95
    # Deterministic: rerun is identical.
    again = {r["source"]: r["n"] for r in corpus_mix(subset, weights).groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == counts


def test_corpus_mix_keeps_rows_not_resamples(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    weights = docs.select("source").distinct().withColumn("weight", F.lit(1))
    out = corpus_mix(docs, weights)
    # Equal weights + equal counts → keep everything, schema untouched.
    assert out.count() == docs.count()
    assert out.columns == docs.columns


def test_decontaminate_flags_verbatim_leak(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") < 5)
    # Plant a train doc that verbatim-copies an eval doc's text.
    leak = eval_df.limit(1).select(
        F.lit(999999).alias("doc_id"), F.col("text")
    )
    clean = spark.createDataFrame(
        [(999998, "totally unrelated words that appear nowhere else at all "
                  "padding padding padding padding padding padding padding")],
        ["doc_id", "text"],
    )
    train = (
        docs.filter(F.col("doc_id") >= 5).select("doc_id", "text")
        .unionByName(leak)
        .unionByName(clean)
    )
    out = {r["doc_id"]: r for r in decontaminate(train, eval_df).collect()}
    assert out[999999]["contaminated"] is True
    assert out[999999]["n_contaminated_ngrams"] > 0
    assert out[999998]["contaminated"] is False
    assert out[999998]["n_contaminated_ngrams"] == 0
    # Exhaustive: every train doc gets a row.
    assert len(out) == train.count()


def test_pack_sequences_invariants(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = pack_sequences(docs, seq_len=512, n_buckets=16).collect()
    assert len(out) == docs.count()
    by_bucket: dict[int, list] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_bucket) <= set(range(16))
    for rows in by_bucket.values():
        # Reconstruct the concat order: offsets must chain exactly.
        rows.sort(key=lambda r: (r["seq_index"], r["seq_offset"]))
        cum = 0
        for r in rows:
            assert r["seq_index"] == cum // 512
            assert r["seq_offset"] == cum % 512
            cum += r["tok_count"]


def test_repetition_metrics_hand_math(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),              # dup 3/4, top 4/4 → repetitive
            (2, "w x y z"),              # dup 0, top 1/4 → clean
            (3, "spam spam eggs"),       # dup 1/3, top 2/3 → repetitive (top)
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert out[1]["dup_word_frac"] == pytest.approx(0.75)
    assert out[1]["top_word_frac"] == pytest.approx(1.0)
    assert out[1]["repetitive"] is True
    assert out[2]["dup_word_frac"] == pytest.approx(0.0)
    assert out[2]["top_word_frac"] == pytest.approx(0.25)
    assert out[2]["repetitive"] is False
    assert out[3]["top_word_frac"] == pytest.approx(2 / 3)
    assert out[3]["repetitive"] is True


def test_approx_quantiles_track_exact(spark, sf_dir):
    """The sketch-based scale path must track the exact per-type quantiles.

    The two differ by DEFINITION, not just sketch error: percentile()
    interpolates between order statistics (continuous quantile) while
    approx_percentile returns an actual data element — so on the tiny
    sf0.001 groups the p95 gap can be the spacing between adjacent order
    statistics (a few percent). The bound here covers definitional gap +
    sketch error; at 1/10000 accuracy the sketch contributes ~0."""
    from procurement_data_pipeline_spark.registry import load_all

    specs = load_all()
    exact = {
        r["event_type"]: r
        for r in specs["events_value_quantiles"].builder(spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: r
        for r in specs["events_value_quantiles_approx"].builder(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for et, e in exact.items():
        a = approx[et]
        for col in ("p50_value", "p95_value"):
            denom = max(abs(e[col]), 1e-9)
            assert abs(a[col] - e[col]) / denom < 0.10, (
                f"{et}.{col}: approx {a[col]} vs exact {e[col]}"
            )


def test_frequent_items_sketch_guarantees(spark):
    """Space-saving contract on a skewed stream with capacity FAR below the
    domain (forces evictions): every true heavy hitter (freq > n/capacity)
    surfaces, and count_lo <= true <= count_hi for each reported item."""
    from procurement_data_pipeline_spark.llm_ops.sketch import frequent_items

    # Zipf-ish synthetic: item_i appears ~1000/i times, i in 1..200.
    rows = [(f"item_{i:03d}",) for i in range(1, 201) for _ in range(1000 // i)]
    df = spark.createDataFrame(rows, ["tok"]).repartition(8)
    true_counts = {}
    for (v,) in rows:
        true_counts[v] = true_counts.get(v, 0) + 1
    n = len(rows)
    capacity = 64

    out = frequent_items(df, "tok", k=20, capacity=capacity).collect()
    reported = {r["item"]: (r["count_lo"], r["count_hi"]) for r in out}

    # Bounds hold for every reported item.
    for item, (lo, hi) in reported.items():
        assert lo <= true_counts[item] <= hi, (item, lo, true_counts[item], hi)
    # Guarantee: items above the n/capacity threshold are all present
    # (restricted to the k reported — the top-20 true items all qualify).
    top_true = sorted(true_counts, key=lambda x: (-true_counts[x], x))[:20]
    heavy = [x for x in top_true if true_counts[x] > n / capacity]
    missing = [x for x in heavy if x not in reported]
    assert not missing, f"space-saving missed heavy hitters: {missing}"


def test_vocab_sketch_equals_exact_on_bounded_vocab(spark, sf_dir):
    """On the corpus (vocab << capacity, no evictions) the sketch top-k is
    exactly the exact top-k with tight bounds (count_lo == count_hi)."""
    from procurement_data_pipeline_spark.registry import load_all

    specs = load_all()
    exact = {
        r["word"]: r["n_occurrences"]
        for r in specs["docs_vocab_topk"].builder(spark, sf_dir).collect()
    }
    sketch = {
        r["item"]: (r["count_lo"], r["count_hi"])
        for r in specs["docs_vocab_topk_sketch"].builder(spark, sf_dir).collect()
    }
    assert set(sketch) == set(exact)
    for w, n in exact.items():
        assert sketch[w] == (n, n)


def test_corpus_mix_unlisted_source_is_loud(spark, sf_dir):
    """A corpus source absent from the recipe must raise (silent data loss
    is not a curation decision) unless the caller opts into dropping."""
    docs = load_table(spark, sf_dir, "documents")
    partial = spark.createDataFrame(
        [("src0", 1), ("src1", 1)], ["source", "weight"]
    )
    with pytest.raises(ValueError, match="missing from the weights recipe"):
        corpus_mix(docs, partial)
    dropped = corpus_mix(docs, partial, on_missing="drop")
    assert {r["source"] for r in dropped.select("source").distinct().collect()} == {
        "src0",
        "src1",
    }


def test_corpus_mix_null_source_is_loud(spark):
    """NULL sources can never match the rate join (SQL null semantics), so
    error mode must name them — not TypeError on sorting None against str,
    and never a silent drop."""
    docs = spark.createDataFrame(
        [(1, "srcA"), (2, None), (3, "srcB")], ["doc_id", "source"]
    )
    wts = spark.createDataFrame([("srcA", 1), ("srcB", 1)], ["source", "weight"])
    with pytest.raises(ValueError, match="NULL source"):
        corpus_mix(docs, wts)
    # drop mode excludes them knowingly
    kept = corpus_mix(docs, wts, on_missing="drop")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_pack_sequences_duplicate_key_rows_frame(spark):
    """Duplicate id_col values make the window order tie; the explicit ROWS
    frame must still chain offsets (RANGE would give both peers the same
    cumulative sum and double-count)."""
    from procurement_data_pipeline_spark.llm_ops.curation import pack_sequences

    df = spark.createDataFrame(
        [(7, "a b c"), (7, "d e"), (8, "f")], ["doc_id", "text"]
    )
    rows = pack_sequences(df, seq_len=4, n_buckets=1).collect()
    rows.sort(key=lambda r: (r["seq_index"], r["seq_offset"], -r["tok_count"]))
    cum = 0
    starts = set()
    for r in rows:
        start = r["seq_index"] * 4 + r["seq_offset"]
        assert start not in starts, "peer rows shared a cumulative sum"
        starts.add(start)
        cum += r["tok_count"]
    assert cum == 6  # Σ tok_count conserved
    # Deterministic even under tied (_h, id) keys: tok_count joins the sort,
    # so a rerun reproduces the exact same assignment.
    again = pack_sequences(df, seq_len=4, n_buckets=1).collect()
    key = lambda r: (r["doc_id"], r["tok_count"], r["seq_index"], r["seq_offset"])  # noqa: E731
    assert sorted(map(key, again)) == sorted(map(key, rows))


def test_pack_sequences_wide_bucket_route(spark):
    """n_buckets past the 2-hex-char ceiling routes via 4 chars; ≤256 keeps
    the original 2-char assignment byte-stable (oracle compatibility)."""
    from procurement_data_pipeline_spark.llm_ops.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * (i % 5 + 1)) for i in range(50)], ["doc_id", "text"]
    )
    wide = pack_sequences(df, seq_len=8, n_buckets=1024).collect()
    assert sorted(r["doc_id"] for r in wide) == list(range(50))
    assert all(0 <= r["bucket"] < 1024 for r in wide)
    with pytest.raises(ValueError, match="n_buckets"):
        pack_sequences(df, n_buckets=0)
    with pytest.raises(ValueError, match="n_buckets"):
        pack_sequences(df, n_buckets=65537)


def test_cluster_safe_split_never_straddles_neardup_pairs(spark, sf_dir):
    """THE guarantee: for every Jaccard>=0.8 pair, both docs get the same
    split side (a per-doc hash split cannot promise this); the split is
    exhaustive, disjoint by construction, and deterministic."""
    from procurement_data_pipeline_spark.llm_ops.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )
    from procurement_data_pipeline_spark.llm_ops.sampling import cluster_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    clusters = dedup_clusters(docs, pairs)
    out = cluster_safe_split(clusters.select("doc_id", "cluster_id"))
    side = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(side) == docs.count()  # exhaustive
    assert set(side.values()) <= {"train", "eval"}
    straddles = [
        (r["doc_a"], r["doc_b"])
        for r in pairs.collect()
        if side[r["doc_a"]] != side[r["doc_b"]]
    ]
    assert straddles == []
    # determinism: rerun gives identical assignment
    again = {
        r["doc_id"]: r["split"]
        for r in cluster_safe_split(
            clusters.select("doc_id", "cluster_id")
        ).collect()
    }
    assert again == side


def test_pack_two_level_equals_single_window_reference(spark, sf_dir):
    """The stitched two-level packing must EQUAL one window over the total
    order (sub, _h, id, tok) per bucket — computed here independently in
    Spark — row for row. Plus the usual conservation invariants."""
    from pyspark.sql.window import Window

    from procurement_data_pipeline_spark.llm_ops.curation import (
        _HEX,
        pack_sequences_two_level,
    )
    from procurement_data_pipeline_spark.llm_ops.sampling import hash_key
    from procurement_data_pipeline_spark.llm_ops.text import words

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["bucket"], r["tok_count"], r["seq_index"], r["seq_offset"])
        for r in pack_sequences_two_level(
            docs, seq_len=512, n_buckets=16, n_sub=16
        ).collect()
    }

    h = hash_key("doc_id", "pack")
    hx = lambda i: F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1  # noqa: E731
    b = docs.select(
        "doc_id",
        ((hx(1) * 16 + hx(2)) % 16).alias("bucket"),
        ((hx(5) * 16 + hx(6)) % 16).alias("sub"),
        h.alias("_h"),
        F.size(words("text")).cast("bigint").alias("tok_count"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("sub", "_h", "doc_id", "tok_count")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("tok_count").over(w) - F.col("tok_count")
    want = {
        r["doc_id"]: (r["bucket"], r["tok_count"], r["seq_index"], r["seq_offset"])
        for r in b.select(
            "doc_id",
            "bucket",
            "tok_count",
            F.floor(start / F.lit(512)).cast("bigint").alias("seq_index"),
            (start % F.lit(512)).cast("bigint").alias("seq_offset"),
        ).collect()
    }
    assert got == want
    assert len(got) == docs.count()  # exhaustive, exactly once


def test_interleaved_shuffle_round_robins_sources(spark, sf_dir):
    """Any global-order prefix sees per-source counts within 1 of each
    other until a source exhausts, and the ordering is deterministic."""
    q = load_all()["docs_interleaved_shuffle"]
    rows = sorted(
        ((r["global_pos"], r["source"]) for r in q.builder(spark, sf_dir).collect())
    )
    totals: dict[str, int] = {}
    for _, s in rows:
        totals[s] = totals.get(s, 0) + 1
    seen: dict[str, int] = dict.fromkeys(totals, 0)
    for pos, s in rows:
        seen[s] += 1
        live_min = min(
            seen[t] for t in totals if seen[t] < totals[t] or t == s
        )
        assert seen[s] - live_min <= 1  # round-robin fairness
    assert [p for p, _ in rows] == list(range(len(rows)))  # dense 0-based
    again = sorted(
        ((r["global_pos"], r["source"]) for r in q.builder(spark, sf_dir).collect())
    )
    assert again == rows  # deterministic
