"""Deduplication operators for LLM-data pipelines.

Three tiers, all expressed as distributed DataFrame plans (no driver-side
pair loops — candidate generation is always a key-equality shuffle join, the
scalable pattern at 100 TB):

* exact        — content-fingerprint groupBy (one shuffle on the hash)
* n-gram Jaccard — inverted-index join on shingles (exact similarity, but
                   pair generation bounded by shared-shingle blocking)
* MinHash LSH  — signature banding; candidates only for band collisions,
                 then exact verify. The probabilistic scale path.
* SimHash      — 64-bit near-dup signature via per-bit majority vote.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from procurement_data_pipeline_spark.caching import scoped_persist

from procurement_data_pipeline_spark.llm_ops.text import (
    fingerprint,
    kgram_hashes,
    winnow_mins,
    word_ngrams,
    words,
)

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct normalized content.

    Returns (fingerprint, n_docs, keep_doc_id) — the kept id is the minimum,
    deterministically. Single hash-shuffle on the 128-bit fingerprint;
    partial aggregation makes the map side emit one row per distinct hash
    per partition, so skew is bounded by distinct-content cardinality.
    """
    return (
        df.select(fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep only the minimum-id row per distinct content (the applied form)."""
    keep = dedup_exact(df, text_col, id_col).select(
        F.col("keep_doc_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index rows.

    Short docs (< n words) contribute zero shingles — ``word_ngrams`` guards
    the gram build, so ordinary LLM corpora with one-word documents don't
    crash the explode."""
    return (
        df.select(F.col(id_col).alias("_id"), F.explode(words(text_col)).alias("w"))
        .distinct()
        if n == 1
        else df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_ngrams(text_col, n)).alias("w"),
        ).distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs with PPJoin-style prefix
    filtering — sub-quadratic candidate generation with zero misses.

    If J(A,B) ≥ θ, the globally-rarest shared shingle lies within each
    set's prefix of its |X| − ⌈θ·|X|⌉ + 1 rarest shingles (pigeonhole on
    |A∩B| ≥ ⌈θ·|A|⌉), so joining PREFIX-to-PREFIX on the shingle finds
    every qualifying pair while skipping the common-shingle flood that
    makes a naive inverted-index join quadratic on low-entropy corpora.
    Candidates are then verified with one vectorized
    ``size(array_intersect)`` per pair (no second explode/groupBy).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ θ.

    Scale notes: the per-doc shingle arrays ride a groupBy collect_list —
    bounded by document length, the same invariant tokenizers rely on.
    Prefix ordering is (global document frequency, shingle), so the join
    keys are the *rarest* shingles — the anti-skew ordering.

    The shingle relation feeds the document-frequency aggregate and the
    packed per-doc relation; ``packed`` (one (df, w)-sorted struct array
    per doc) feeds the prefix rows (both sides of the candidate
    self-join) and the verification arrays. Both are persisted
    MEMORY_AND_DISK so the corpus is tokenized ONCE per query — at
    100 TB re-tokenizing per consumer would dominate the runtime, and
    persist (unlike checkpoint) keeps lineage for fault recovery.
    """
    sh = scoped_persist(_doc_shingles(df, text_col, id_col, n))
    dfreq = sh.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
    # ONE _id shuffle builds everything doc-grain: collect each doc's
    # (df, w) structs once, sorted by (document frequency, shingle) —
    # sort_array on structs compares fields in order, exactly the
    # (_df asc, w asc) total order the prefix rank needs. The prefix rows
    # (posexplode of the first sz − ⌈θ·sz⌉ + 1 slots), the prefix
    # positions (pos + 1 ≡ the former per-doc row_number), the doc sizes,
    # and the lexically-sorted verification arrays (re-sort of the same
    # multiset) all derive from this ONE relation in-codegen. The former
    # shape paid a second full _id shuffle (row_number window over
    # sh⋈dfreq), a separate arrs collect, a doc-size join INTO the
    # prefix, and a third persist — all gone (guide §2.4: operations
    # keyed the same way share one exchange).
    packed = scoped_persist(
        sh.join(dfreq, "w")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list(F.struct("_df", "w"))).alias("_dw"))
    )
    arrs = packed.select(
        "_id",
        F.array_sort(F.expr("transform(_dw, s -> s.w)")).alias("_toks"),
    )
    prefix = packed.select(
        "_id",
        F.size("_dw").alias("_sz"),
        F.posexplode(
            F.slice(
                F.col("_dw"),
                1,
                (
                    F.size("_dw")
                    - F.ceil(F.lit(threshold) * F.size("_dw"))
                    + 1
                ).cast("int"),
            )
        ).alias("_p0", "_s"),
    ).select(
        "_id",
        F.col("_s.w").alias("w"),
        "_sz",
        (F.col("_p0") + 1).alias("_pos"),
    )
    # PPJoin LENGTH filter: J(A,B) ≥ θ forces |A∩B| ≥ θ·max(|A|,|B|) and
    # |A∩B| ≤ min(|A|,|B|), so min ≥ θ·max — pairs of incompatible sizes
    # can be dropped BEFORE the distinct and the array-intersect verify.
    # The integer form floor(θ·1e6)·max ≤ min·1e6 is strictly conservative
    # (floor only relaxes the bound), so no qualifying pair is ever
    # pruned: the verification filter downstream already rejects exactly
    # these pairs, making the output — and the oracle hash — unchanged.
    #
    # PPJoin POSITION filter (Xiao et al., WWW'08): ``_pos`` is the
    # token's 1-based rank in the doc's full (df, w)-sorted shingle list —
    # a GLOBAL total order, identical in every doc, with no duplicates
    # inside a doc (the shingle relation is (_id, w)-distinct). For a
    # collision on the pair's FIRST common token in that order, every
    # common token ranks ≥ _pos in both docs, so
    # |A∩B| ≤ 1 + min(sa − pa, sb − pb). J ≥ θ needs
    # |A∩B| ≥ θ/(1+θ)·(sa+sb); rows whose upper bound cannot reach the
    # integer-relaxed requirement (θ' = floor(θ·1e6)/1e6 ≤ θ, and
    # x/(1+x) is increasing, so the θ' requirement is the weaker one —
    # strictly conservative) are dropped BEFORE the distinct. A
    # qualifying pair always survives via its first-common-token row:
    # there 1 + min(...) ≥ |A∩B| ≥ the requirement. Later collision rows
    # of the same pair may be pruned — the distinct only needs one row —
    # so candidates shrink (measured sf0.1: 43,543 → 12,784 distinct
    # pairs, −71%) while the verified output is byte-identical.
    theta_ppm = int(math.floor(threshold * 1_000_000))
    cand = (
        prefix.select(
            F.col("_id").alias("doc_a"),
            "w",
            F.col("_sz").alias("_sa"),
            F.col("_pos").alias("_pa"),
        )
        .join(
            prefix.select(
                F.col("_id").alias("doc_b"),
                "w",
                F.col("_sz").alias("_sb"),
                F.col("_pos").alias("_pb"),
            ),
            "w",
        )
        .filter(
            # All ppm arithmetic in 64-bit: int32 * 1e6 overflows (ANSI
            # ARITHMETIC_OVERFLOW) for docs with ≳2,147 distinct shingles.
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("_sa", "_sb").cast("long") * F.lit(1_000_000)
                >= F.lit(theta_ppm).cast("long") * F.greatest("_sa", "_sb")
            )
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("_sa") - F.col("_pa"),
                        F.col("_sb") - F.col("_pb"),
                    )
                ).cast("long")
                * F.lit(1_000_000 + theta_ppm)
                >= F.lit(theta_ppm).cast("long")
                * (F.col("_sa") + F.col("_sb"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = arrs.select(F.col("_id").alias("doc_a"), F.col("_toks").alias("_ta"))
    b = arrs.select(F.col("_id").alias("doc_b"), F.col("_toks").alias("_tb"))
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.size("_ta") + F.size("_tb") - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_exprs(num_hashes: int, seed: int = 7) -> list[Column]:
    """Deterministic hash family: h_i(w) = xxhash64(w, seed+i) — 64-bit
    well-mixed, independent per index, reproducible run to run, and safe
    under ANSI arithmetic (no multiply-overflow games)."""
    return [
        F.xxhash64(F.col("w"), F.lit(seed + i)) for i in range(num_hashes)
    ]


def _minhash_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """Signatures from a prebuilt (_id, w) shingle relation — lets callers
    that also need the shingles for verification share one tokenization."""
    mins = [
        F.min(e).alias(f"_h{i}") for i, e in enumerate(_minhash_exprs(num_hashes))
    ]
    sig = sh.groupBy("_id").agg(*mins)
    return sig.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig: array<bigint>) — per-doc MinHash signature.

    One explode + one groupBy: each hash function is a MIN aggregate over the
    doc's shingle hashes (map-side partial mins keep the shuffle tiny —
    num_hashes longs per doc per partition)."""
    sh = _doc_shingles(df, text_col, id_col, n)
    return _minhash_from_shingles(sh, id_col, num_hashes)


def band_hashes(sig: Column, bands: int) -> Column:
    """Array of ``bands`` LSH band hashes for a signature array: hash of the
    comma-joined values of each signature slice. Factored so the BATCH
    banding (below) and the STREAMING near-dup operator
    (streaming/neardup.py) key their buckets with the bit-identical
    expression — a streamed candidate is exactly a batch candidate.

    NULL-propagating: a NULL signature (doc too short to shingle) bands to
    NULL, never to the hash of the empty string — otherwise every
    signature-less doc would share one band key and collide with every
    other (code-review r8); concat_ws silently skips NULL children, so the
    guard must sit OUT here."""
    return F.when(sig.isNull(), F.lit(None).cast("array<bigint>")).otherwise(
        _band_hashes_nonnull(sig, bands)
    )


def _band_hashes_nonnull(sig: Column, bands: int) -> Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        sig,
                        b * (F.size(sig) / bands).cast("int") + 1,
                        (F.size(sig) / bands).cast("int"),
                    ),
                    lambda v: v.cast("string"),
                ),
            )
        ),
    )


def minhash_signature_expr(
    text_col: str | Column, n: int = 2, num_hashes: int = 32, seed: int = 7
) -> Column:
    """ROW-WISE MinHash signature — the same hash family and values as
    :func:`minhash_signatures` (pytest-pinned equal), but as one pure
    column expression with no explode/groupBy. This is what makes MinHash
    STREAMABLE: a stateless projection needs no shuffle and composes with
    any downstream stateful operator. The gram array is let-bound
    (single-element transform) so codegen evaluates tokenization once per
    row, not once per hash function (the lambda-scope re-evaluation
    class-fix, see llm_ops/text.word_ngrams).

    Docs shorter than ``n`` words have NO shingles and therefore no
    MinHash: the signature is NULL, matching the batch path (which drops
    them at the explode). Returning per-hash NULLs instead (the old
    behavior, code-review r8) collapsed every short doc into ONE hot LSH
    bucket downstream — band_hashes of an all-NULL signature is the hash
    of the empty string, identical for all of them."""
    return F.element_at(
        F.transform(
            F.array(F.array_distinct(word_ngrams(text_col, n))),
            lambda sh: F.when(
                F.size(sh) > 0,
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                    lambda i: F.array_min(
                        F.transform(
                            sh, lambda w: F.xxhash64(w, i + F.lit(seed))
                        )
                    ),
                ),
            ),
        ),
        1,
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
) -> DataFrame:
    """LSH banding: docs whose signature agrees on all rows of ≥1 band.

    Explode to (band_idx, band_hash) keys, self-join per band, distinct the
    pairs. The join key includes the band index, so only same-band
    collisions meet — candidate count scales with true near-dup density,
    not corpus size².
    """
    banded = signatures.select(
        F.col(id_col).alias("_id"),
        F.posexplode(band_hashes(F.col("sig"), bands)).alias("band_idx", "band_hash"),
    )
    left = banded.select(F.col("_id").alias("doc_a"), "band_idx", "band_hash")
    right = banded.select(F.col("_id").alias("doc_b"), "band_idx", "band_hash")
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → band candidates →
    exact Jaccard verification of candidates only.

    The shingle relation is shared by the signature build and both sides of
    the verification join, and the signature relation self-joins in the
    banding step — both persist so tokenization and the minhash aggregate
    each run once, not 4-6× (the dominant cost at corpus scale)."""
    sh = scoped_persist(_doc_shingles(df, text_col, id_col, n))
    sigs = scoped_persist(_minhash_from_shingles(sh, id_col, num_hashes))
    cand = minhash_lsh_candidates(sigs, id_col, bands)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    inter = (
        cand.join(sh.select(F.col("_id").alias("doc_a"), "w"), "doc_a")
        .join(sh.select(F.col("_id").alias("doc_b"), F.col("w").alias("w2")), "doc_b")
        .filter(F.col("w") == F.col("w2"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"_id": "doc_a", "_sz": "_sza"}), "doc_a")
        .join(sizes.withColumnsRenamed({"_id": "doc_b", "_sz": "_szb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over token xxhash64s.

    Explode tokens → for each of 64 bits accumulate +1/−1 → sign bit. The
    64 SUM aggregates ride one groupBy (map-side combined)."""
    tok = df.select(
        F.col(id_col).alias("_id"), F.explode(words(text_col)).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(64)
    ]
    agg = tok.groupBy("_id").agg(*votes)
    bits = [
        F.when(
            F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    out = agg.select(
        F.col("_id").alias(id_col),
        sum(bits[1:], start=bits[0]).alias("simhash"),
    )
    return out


def winnow_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by shared winnowed rolling-hash fingerprints
    (``text.winnow_fingerprints`` — the MOSS scheme). Catches COPIED
    PASSAGES (any shared run ≥ k+w−1 chars leaves a shared fingerprint),
    which set-similarity measures dilute away on long documents — the
    contamination/plagiarism detector complementing Jaccard/MinHash.

    Same inverted-index shape as the shingle pipeline: explode fingerprints,
    self-join on the hash, count shared per pair. Candidate volume tracks
    fingerprint-collision density (winnowing keeps ~2/(w+1) of the k-gram
    hashes), not corpus². On boilerplate-heavy corpora, fingerprints shared
    by huge doc sets make the join quadratic anyway — ``max_df`` drops any
    fingerprint appearing in more than that many docs (template/boilerplate
    runs carry no dedup signal; the flood-control analogue of the Jaccard
    pipeline's prefix filter). Pick ``k`` near the run length that counts
    as "copied" (MOSS uses ~25-50 chars for text). Output:
    (doc_a, doc_b, n_shared), doc_a < doc_b, n_shared ≥ ``min_shared``.
    """
    fps = (
        # staged: the k-gram hash array materializes once per row before
        # the window-min pass (single-expression nesting re-evaluates the
        # array per window position — O(n²) per doc; see kgram_hashes)
        df.select(F.col(id_col).alias("_id"), kgram_hashes(text_col, k).alias("_h"))
        .select("_id", F.explode(winnow_mins("_h", w)).alias("fp"))
        .distinct()
    )
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fp")
        )
        fps = fps.join(keep, "fp", "left_semi")
    fps = scoped_persist(fps)  # feeds both sides of the pair join
    a = fps.select(F.col("_id").alias("doc_a"), "fp")
    b = fps.select(F.col("_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Undirected connected components over a pair list → (id, component)
    with component = MIN node id in the component.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges in O(component
    diameter) rounds. Near-dup clusters are dense (quasi-cliques), so real
    corpora converge in 2-3 rounds regardless of corpus size — each round is
    one shuffle join + one groupBy, and ``localCheckpoint`` truncates the
    lineage so plans stay flat. (For adversarial long-chain graphs the
    alternating large-star/small-star variant gives O(log n) rounds; not
    needed for dedup workloads.)
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    # Seed each node with min(id, min neighbor id) instead of its own id:
    # the fixpoint (component min, labels only ever decrease toward it) is
    # unchanged, but a clique/star — the shape of real near-dup clusters —
    # is already converged at round 0, so the loop's first changed==0
    # check stops it one full propagation round earlier. Same cost as the
    # old distinct (one groupBy over the symmetrized edges).
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_nmin"))
        .select("id", F.least(F.col("id"), F.col("_nmin")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        new_labels = (
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Assign every document a duplicate-cluster id (= min doc id of its
    component; singletons cluster to themselves) and flag the canonical
    representative to keep. The applied form of near-dedup: filter on
    ``is_canonical`` to materialize the deduplicated corpus."""
    comp = connected_components(pairs, a_col, b_col).withColumnsRenamed(
        {"id": id_col, "component": "cluster_id"}
    )
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k.

    Candidate generation uses the pigeonhole banding guarantee: split the
    64-bit signature into k+1 bands — any pair within Hamming k agrees
    EXACTLY on at least one band, so a per-band equality self-join finds
    every qualifying pair (no misses); verification is one
    ``bit_count(a XOR b)`` per candidate. Join keys are (band_idx,
    band_bits): candidate volume tracks true near-dup density, not n².

    The signature relation feeds both sides of the band self-join;
    persisting it runs the 64-vote aggregate once instead of twice.
    """
    bands = max_hamming + 1
    width = 64 // bands
    sig = (
        scoped_persist(simhash(df, text_col, id_col).withColumnRenamed(id_col, "_id"))
    )
    banded = sig.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    # unsigned slice: shift right then mask to `width` bits
                    F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                    for i in range(bands)
                ]
            )
        ).alias("_band", "_bits"),
    )
    left = banded.select(
        F.col("_id").alias("doc_a"), F.col("simhash").alias("_sa"), "_band", "_bits"
    )
    right = banded.select(
        F.col("_id").alias("doc_b"), F.col("simhash").alias("_sb"), "_band", "_bits"
    )
    return (
        left.join(right, ["_band", "_bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "_sa", "_sb")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
