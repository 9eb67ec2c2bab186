"""Deduplication operators for large-scale training-data pipelines.

Exact + near-duplicate detection, all expressed Spark-first:

- exact:    sha256 hash-groupBy (one shuffle on the digest)
- minhash:  shingles → K minhashes (JVM array exprs, no Python) → LSH
            banding → bucket join → verified Jaccard
- simhash:  token explode → 64 bit-plane sums → sign bits → block banding
- n-gram Jaccard: exact verified similarity for candidate pairs
- embedding near-dup: cosine over `array<float>` via zip_with/aggregate

Scale posture: every operator keys its shuffle on a digest/bucket (uniform
by construction — no skew), verifies candidates only within buckets
(never all-pairs), and stays inside whole-stage codegen except where noted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import sha256_hex

# ------------------------------------------------------------------ exact


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content hash; report
    group size. Single shuffle keyed by the uniform sha256 digest."""
    h = sha256_hex(F.col(text_col))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup_apply(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return df with duplicates removed (representative row kept)."""
    reps = exact_dedup(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(reps, on=id_col, how="inner")


def dedup_ingest(table, batch: DataFrame, text_col: str, id_col: str):
    """Dedup-on-ingest: admit only corpus-NEW content into a deduplicated
    lake table — the incremental form of ``exact_dedup`` for a corpus that
    arrives in batches (daily crawl snapshots), where re-scanning the whole
    accumulated corpus per batch is not an option.

    The batch first collapses to one representative per content hash
    (min ``id_col`` — within-batch exact dedup, one partial-agg'd shuffle
    on the uniform digest), then lands as an INSERT-ONLY MERGE keyed on
    ``content_hash``: hashes already in the table are dropped (the corpus
    keeps its FIRST-seen representative), new hashes insert. Ingest order
    therefore defines the winner: argmin (batch_seq, id) — exactly
    SQL-expressible, so the whole multi-batch lifecycle has an exact
    oracle.

    ``table`` must be a LakeTable whose key columns are
    ``["content_hash"]`` and whose schema matches the batch columns plus
    ``content_hash``; ``id_col`` must be unique within the batch (the
    usual document-id contract — a repeated (id, hash) pair would make
    the winner set key-duplicated, so the merge runs with
    ``validate_unique_keys=True`` and raises loudly instead of inserting
    a duplicate key). At scale the merge is bucket-pruned on the hash key
    (uniform — no skew) and file-grain bloom-pruned when the table enables
    ``lake.bloom.cols``; per-batch cost is O(batch), never O(corpus).
    Reference: the reference's insert-only ingest merges
    (IngestOrdersFromRawToFlat.scala:36-98) applied to corpus hygiene.
    Returns the merge CommitResult."""
    from ..lake.merge import merge_into

    # NULL text hashes as the empty string: a NULL content_hash would be
    # silently dropped by the winner join AND would violate the lake's
    # non-null merge-key convention — empty-fetch documents dedup together
    # instead of vanishing.
    hashed = batch.withColumn(
        "content_hash", sha256_hex(F.coalesce(F.col(text_col), F.lit("")))
    )
    winners_ids = hashed.groupBy("content_hash").agg(F.min(F.col(id_col)).alias(id_col))
    # eager localCheckpoint: the winner plan (batch scan + groupBy + join)
    # is consumed THREE times downstream (uniqueness validation, touched-
    # bucket discovery, the merge join itself) — pin it so the batch is
    # scanned once, not three times
    winners = hashed.join(winners_ids, ["content_hash", id_col], "inner").localCheckpoint(
        eager=True
    )
    return merge_into(
        table,
        winners,
        on=["content_hash"],
        when_matched_update=None,
        when_not_matched_insert=True,
        validate_unique_keys=True,
    )


# --------------------------------------------------------------- shingles


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and feed it to ``fn`` as a bound
    lambda variable — JVM-side common-subexpression elimination.

    Catalyst's projection collapse happily inlines an aliased expression
    into every downstream use (64 copies of the shingle pipeline inside a
    64-hash minhash — measured 40ms/row interpreted); binding it as a
    higher-order-function lambda variable forces single evaluation while
    staying inside codegen."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (distinct), pure JVM expressions."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    return _bind(
        toks,
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            )
        ),
    )


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return _bind(
        F.lower(c),
        lambda s: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
                lambda i: F.substring(s, i, n),
            )
        ),
    )


# ---------------------------------------------------------------- minhash


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """K minhashes: min over shingles of xxhash64(shingle, seed_i).
    The shingle array is lambda-bound so it is computed once, not once per
    hash; K transforms over the bound array — JVM-side, no UDF."""
    return _bind(
        shingles,
        lambda sh: F.array(
            *[
                F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(i))))
                for i in range(num_hashes)
            ]
        ),
    )


def _signatures_and_groups(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_k: int
):
    """(sig, groups): per-doc minhash signatures and identical-signature
    groups (keyed by a 64-bit hash of the full signature; one representative
    = min id per group). Both returned persisted — callers must unpersist.

    persist is load-bearing, not a cache hint: without a materialization
    barrier Catalyst's projection collapse inlines the 64-transform
    signature expression into every downstream consumer (~1000× recompute
    per row — measured 436s → 9s at 5k docs). At corpus scale this stage is
    persisted as a signatures table anyway."""
    from pyspark import StorageLevel

    # spread the CPU-heavy signature map across all cores: a small input
    # (one parquet file → one partition) would otherwise pin the whole
    # stage to a single task; at corpus scale the input arrives
    # many-partitioned and this is a cheap rebalance.
    spark = df.sparkSession
    src = df.repartition(spark.sparkContext.defaultParallelism)
    sig = src.select(
        F.col(id_col).alias("_id"),
        minhash_signature(word_shingles(text_col, shingle_k), num_hashes).alias("_sig"),
    ).withColumn("_sigh", F.xxhash64("_sig"))
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    groups = sig.groupBy("_sigh").agg(
        F.min("_id").alias("_rid"),
        F.first("_sig").alias("_rsig"),
        F.count(F.lit(1)).alias("_m"),
    )
    groups = groups.persist(StorageLevel.MEMORY_AND_DISK)
    return sig, groups


def _banded_reps(groups: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode distinct-signature representatives into (rep id, band, band
    hash) rows — one row per (distinct signature × band), NOT per doc."""
    r = num_hashes // bands
    return groups.select(
        F.col("_rid").alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", *[F.element_at("_rsig", b * r + j + 1) for j in range(r)])
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "bk.band", "bk.bh")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding.

    rows-per-band r = num_hashes/bands; docs sharing any band hash become a
    candidate pair. Output: (a, b) id pairs with a < b, distinct. The
    candidate set is connectivity-preserving, not exhaustive: identical
    signatures are collapsed to one representative per group (star pairs
    rep→member link the group; rep-level band pairs link groups), so a
    duplicate cluster of m docs costs O(m) pairs, not O(m²).

    ``max_bucket_size`` caps *distinct-signature* bucket sizes before the
    band self-join — a mega-bucket of genuinely different low-entropy
    signatures produces O(n²) pairs with almost no discriminative signal
    and is THE quadratic blowup at corpus scale. Exact-duplicate clusters
    (the most common mega-bucket cause, and the r1 recall hole: they share
    EVERY band hash, so no other band rescues them) never hit the cap —
    they are collapsed to one representative first. Use
    ``minhash_bucket_stats`` to see what a cap would truncate.
    """
    sig, groups = _signatures_and_groups(df, id_col, text_col, num_hashes, shingle_k)
    try:
        # star pairs inside identical-signature groups: rep (min id) → member
        star = (
            sig.join(groups.select("_sigh", "_rid", "_m"), on="_sigh")
            .where((F.col("_m") > 1) & (F.col("_id") != F.col("_rid")))
            .select(F.col("_rid").alias("a"), F.col("_id").alias("b"))
        )
        banded = _banded_reps(groups, num_hashes, bands)
        sizes = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("_n"))
        capped = banded.join(
            sizes.where(F.col("_n") <= max_bucket_size), on=["band", "bh"], how="inner"
        ).drop("_n")
        left = capped.alias("l")
        right = capped.alias("r")
        band_pairs = left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l._id") < F.col("r._id")),
        ).select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        pairs = band_pairs.union(star).distinct()
        # Materialize the (small) pair list eagerly so the persisted
        # signature/group frames can be released — a long-lived session
        # running many dedup passes must not accumulate block-store state.
        return pairs.localCheckpoint(eager=True)
    finally:
        sig.unpersist()
        groups.unpersist()


def minhash_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 64,
) -> dict:
    """Truncation observability: distribution of rep-level band-bucket
    sizes and what ``max_bucket_size`` would drop. Returns a plain dict
    (one job) — wire into bench output so capping is visible, not silent."""
    sig, groups = _signatures_and_groups(df, id_col, text_col, num_hashes, shingle_k)
    try:
        sizes = _banded_reps(groups, num_hashes, bands).groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("_n")
        )
        row = sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("_n").alias("max_bucket"),
            F.expr("percentile_approx(_n, 0.99)").alias("p99_bucket"),
            F.sum(F.when(F.col("_n") > max_bucket_size, 1).otherwise(0)).alias(
                "buckets_dropped"
            ),
            F.sum(
                F.when(
                    F.col("_n") > max_bucket_size,
                    F.col("_n") * (F.col("_n") - 1) / 2,
                ).otherwise(0)
            ).alias("candidate_pairs_dropped"),
        ).first()
        biggest_group = groups.agg(F.max("_m").alias("m")).first()["m"]
        return {
            "n_buckets": int(row["n_buckets"] or 0),
            "max_bucket": int(row["max_bucket"] or 0),
            "p99_bucket": int(row["p99_bucket"] or 0),
            "buckets_dropped": int(row["buckets_dropped"] or 0),
            "candidate_pairs_dropped": int(row["candidate_pairs_dropped"] or 0),
            "max_identical_sig_group": int(biggest_group or 0),
        }
    finally:
        sig.unpersist()
        groups.unpersist()


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, shingle_k: int = 3
) -> DataFrame:
    """Verified Jaccard similarity for candidate pairs: join shingle sets
    back to both sides, intersect/union JVM-side."""
    sh = df.select(
        F.col(id_col).alias("_id"), word_shingles(text_col, shingle_k).alias("_sh")
    )
    a = sh.select(F.col("_id").alias("a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("b"), F.col("_sh").alias("sh_b"))
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "a", "b", F.when(union > 0, inter / union).otherwise(0.0).alias("jaccard")
    )


def blocked_jaccard_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.4,
    shingle_k: int = 3,
    block_tokens: int = 2,
    max_block_size: int = 64,
) -> DataFrame:
    """Exact n-gram Jaccard near-dups over deterministic token-prefix blocks.

    The candidate generator here is a *blocking key* (first ``block_tokens``
    tokens of the lowered text) rather than LSH: fully deterministic and
    SQL-expressible, so the whole pipeline — blocking, capping, shingling,
    Jaccard — has an exact DuckDB oracle. Blocks larger than
    ``max_block_size`` are excluded in BOTH engines (skew guard expressed
    as a plain size predicate, so the cap itself is oracle-checked).

    Production candidate generation at scale is ``minhash_lsh_candidates``
    (recall under paraphrase); this operator is the exact-verification
    counterpart the brief lists as "n-gram Jaccard" dedup, and it shares
    the same ``ngram_jaccard`` verifier. The self-join keys on the block —
    one shuffle, bounded O(cap²) work per block.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    blocked = df.select(
        F.col(id_col).alias("_id"),
        F.concat_ws(" ", F.slice(toks, 1, block_tokens)).alias("_blk"),
    )
    sizes = blocked.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bs"))
    capped = blocked.join(
        sizes.where(F.col("_bs") <= max_block_size).drop("_bs"), "_blk"
    )
    pairs = (
        capped.alias("x")
        .join(
            capped.alias("y"),
            (F.col("x._blk") == F.col("y._blk"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("a"), F.col("y._id").alias("b"))
    )
    verified = ngram_jaccard(df, pairs, id_col, text_col, shingle_k)
    return verified.where(F.col("jaccard") >= threshold).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def jaccard_against_corpus(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.4,
    shingle_k: int = 3,
    block_tokens: int = 2,
    max_block_size: int = 64,
) -> DataFrame:
    """One-sided exact near-dup: flag NEW documents whose n-gram Jaccard
    against ANY existing corpus document reaches ``threshold`` — the
    incremental counterpart of ``blocked_jaccard_near_dups`` for the
    daily-delta shape (|new| ≪ |corpus|).

    Candidates come from the same deterministic token-prefix blocking, but
    the join is new→corpus only: corpus-vs-corpus pairs (the quadratic
    bulk, already adjudicated when those docs were ingested) are never
    generated. The block-size cap applies to the CORPUS side, bounding the
    work per new document at ≤ cap comparisons per block; both the cap and
    the blocking are plain SQL predicates, so the operator has an exact
    DuckDB oracle. Each side carries its shingle array through the single
    block-keyed shuffle — no second join-back. With a small delta, AQE
    broadcasts the new side and the corpus never shuffles at all.

    Returns (new_id, corpus_id, jaccard) for pairs ≥ threshold. Ids must
    be disjoint across the two inputs (same-id pairs are excluded
    defensively). Empty/whitespace-only/NULL documents are excluded from
    BOTH sides: their shingle set degenerates to [""], which would flood
    the output by pairing every empty new doc with every empty corpus doc
    at jaccard 1.0 — empties are exact-dedup's job, not near-dup's."""

    def prep(df: DataFrame, side: str) -> DataFrame:
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        return df.where(F.trim(F.col(text_col)) != "").select(
            F.col(id_col).alias(f"{side}_id"),
            F.concat_ws(" ", F.slice(toks, 1, block_tokens)).alias("_blk"),
            word_shingles(text_col, shingle_k).alias(f"_sh_{side}"),
        )

    n = prep(new, "new")
    c = prep(corpus, "corpus")
    sizes = c.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bs"))
    c_capped = c.join(sizes.where(F.col("_bs") <= max_block_size).drop("_bs"), "_blk")
    pairs = n.join(c_capped, "_blk").where(F.col("new_id") != F.col("corpus_id"))
    inter = F.size(F.array_intersect("_sh_new", "_sh_corpus")).cast("double")
    union = F.size(F.array_union("_sh_new", "_sh_corpus")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(0.0)
    return (
        pairs.select("new_id", "corpus_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Full pipeline: LSH candidates → verified Jaccard ≥ threshold."""
    cands = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_k, max_bucket_size
    )
    verified = ngram_jaccard(df, cands, id_col, text_col, shingle_k)
    return verified.where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------- simhash


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document.

    explode tokens → hash → 64 bit-plane sums (+1/-1) in ONE wide hash
    aggregation (partial map-side combine applies) → sign bits packed into
    a long. No Python in the plan.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_tok"),
    ).withColumn("_h", F.xxhash64("_tok"))
    sums = toks.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(64)
        ]
    )
    packed = sums.select(
        "_id",
        sum(
            [
                F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63)))
                .otherwise(0)
                .cast("long")
                for i in range(64)
            ]
        ).alias("simhash"),
    )
    return packed.withColumnRenamed("_id", id_col)


def _simhash_groups(sim: DataFrame, id_col: str):
    """Identical-simhash groups: one representative (min id) per distinct
    64-bit value, group size ``_m``. Returned persisted — caller unpersists.
    Same mega-cluster treatment as ``_signatures_and_groups``: m identical
    docs share every block, so without collapse the block self-join pays
    O(m²) — collapsed, the cluster costs O(m) star pairs."""
    from pyspark import StorageLevel

    s = sim.select(F.col(id_col).alias("_id"), "simhash")
    s = s.persist(StorageLevel.MEMORY_AND_DISK)
    groups = s.groupBy("simhash").agg(
        F.min("_id").alias("_rid"), F.count(F.lit(1)).alias("_m")
    )
    groups = groups.persist(StorageLevel.MEMORY_AND_DISK)
    return s, groups


def _simhash_blocks(
    groups: DataFrame, blocks: int, keep_sim: bool = False
) -> DataFrame:
    """Explode distinct-simhash representatives into (rep id, block, bits).
    ``keep_sim`` carries the full 64-bit value through (the over-cap
    refinement re-keys on the REMAINING bits, so it needs the whole hash)."""
    width = 64 // blocks
    mask = (1 << width) - 1
    extra = ["simhash"] if keep_sim else []
    return groups.select(
        F.col("_rid").alias("_id"),
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("p"),
    ).select("_id", *extra, "p.blk", "p.bits")


def _simhash_remainder(blocks: int) -> Column:
    """The 64-``width`` bits of ``simhash`` OUTSIDE block ``blk``, packed
    into the low bits (a CASE over the block index — the slice boundaries
    are per-block constants). Non-negative: fits well below 2^63."""
    width = 64 // blocks
    rem = None
    for b in range(blocks):
        if b == blocks - 1:
            # Java shift semantics: >>> 64 is a no-op, so the top block's
            # remainder is just the low bits (no high part exists)
            expr = F.col("simhash").bitwiseAND(F.lit((1 << (b * width)) - 1))
        else:
            high = F.shiftleft(
                F.shiftrightunsigned(F.col("simhash"), (b + 1) * width),
                b * width,
            )
            expr = high.bitwiseOR(
                F.col("simhash").bitwiseAND(F.lit((1 << (b * width)) - 1))
            )
        cond = F.col("blk") == b
        rem = F.when(cond, expr) if rem is None else rem.when(cond, expr)
    return rem


def _simhash_refine(over: DataFrame, blocks: int) -> DataFrame:
    """Second-level blocking for over-cap buckets: re-key each member by
    ``blocks`` sub-slices of the 64-width REMAINING bits. Pigeonhole at
    the second level: two members of the same (blk, bits) bucket within
    Hamming distance ≤ blocks-1 differ in ≤ blocks-1 of the remaining
    bits, so with ``blocks`` sub-slices at least one sub-slice is equal —
    the Hamming-≤k guarantee survives the cap instead of degrading to a
    sample. Output: (_id, blk, bits, sblk, sbits)."""
    width = 64 // blocks
    rem_width = 64 - width
    sw = -(-rem_width // blocks)  # ceil: sub-slices tile the remainder
    rem = _simhash_remainder(blocks)
    smask = (1 << sw) - 1
    return over.select(
        "_id",
        "blk",
        "bits",
        rem.alias("_rem"),
    ).select(
        "_id",
        "blk",
        "bits",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sblk"),
                        F.shiftrightunsigned(F.col("_rem"), j * sw)
                        .bitwiseAND(F.lit(smask))
                        .alias("sbits"),
                    )
                    for j in range(blocks)
                ]
            )
        ).alias("q"),
    ).select("_id", "blk", "bits", "q.sblk", "q.sbits")


def simhash_candidates(
    sim: DataFrame, id_col: str, blocks: int = 4, max_bucket_size: int = 64
) -> DataFrame:
    """Hamming-≤k candidates: split the 64 bits into ``blocks`` 16-bit
    blocks; pairs sharing any block are candidates (pigeonhole: hamming
    distance < blocks ⇒ some block equal).

    Mega-bucket defense (mirrors ``minhash_lsh_candidates``): identical
    simhash values are collapsed to one representative before the block
    self-join (star pairs rep→member preserve connectivity — a 2,000-copy
    cluster costs O(m) pairs, not O(m²)). Distinct-value block buckets
    larger than ``max_bucket_size`` are REFINED, not sampled: members are
    re-keyed by ``blocks`` sub-slices of the REMAINING 64-width bits
    (``_simhash_refine``), which preserves the Hamming-≤(blocks-1)
    guarantee at the second level by the same pigeonhole (≤ blocks-1
    differing bits across ``blocks`` sub-slices ⇒ one sub-slice equal) —
    an adversarial bucket of members sharing one block but random
    elsewhere shatters into ~size/2^12 sub-buckets. Only refined
    sub-buckets STILL over cap fall back to the deterministic cap-size
    sample (rank by a hash of the member id); that residual loss is
    quantified, never silent: ``simhash_bucket_stats`` reports
    ``candidate_pairs_dropped`` (at the refined level) and
    ``est_in_bucket_pair_recall``."""
    from pyspark.sql import Window

    s, groups = _simhash_groups(sim, id_col)
    try:
        star = (
            s.join(groups.select("simhash", "_rid", "_m"), on="simhash")
            .where((F.col("_m") > 1) & (F.col("_id") != F.col("_rid")))
            .select(F.col("_rid").alias("a"), F.col("_id").alias("b"))
        )
        parts = _simhash_blocks(groups, blocks, keep_sim=True)
        sizes = parts.groupBy("blk", "bits").agg(F.count(F.lit(1)).alias("_n"))
        # under-cap buckets join directly; sblk=-1 keeps their key space
        # disjoint from refined sub-buckets (sblk ∈ 0..blocks-1)
        under = (
            parts.join(
                sizes.where(F.col("_n") <= max_bucket_size),
                on=["blk", "bits"], how="inner",
            )
            .select(
                "_id", "blk", "bits",
                F.lit(-1).alias("sblk"), F.lit(0).cast("long").alias("sbits"),
            )
        )
        over = parts.join(
            sizes.where(F.col("_n") > max_bucket_size),
            on=["blk", "bits"], how="inner",
        ).drop("_n")
        refined = _simhash_refine(over, blocks)
        rsizes = refined.groupBy("blk", "bits", "sblk", "sbits").agg(
            F.count(F.lit(1)).alias("_rn_total")
        )
        runder = refined.join(
            rsizes.where(F.col("_rn_total") <= max_bucket_size),
            on=["blk", "bits", "sblk", "sbits"], how="inner",
        ).drop("_rn_total")
        # refined sub-buckets still over cap: deterministic cap-size sample
        # (window is partitioned per sub-bucket — parallel, and only
        # doubly-over-cap volume pays)
        w = Window.partitionBy("blk", "bits", "sblk", "sbits").orderBy(
            F.xxhash64(F.col("_id").cast("string")), F.col("_id")
        )
        rover = (
            refined.join(
                rsizes.where(F.col("_rn_total") > max_bucket_size),
                on=["blk", "bits", "sblk", "sbits"], how="inner",
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_bucket_size)
            .drop("_rn_total", "_rn")
        )
        capped = under.unionByName(runder).unionByName(rover)
        l, r = capped.alias("l"), capped.alias("r")
        band_pairs = (
            l.join(
                r,
                (F.col("l.blk") == F.col("r.blk"))
                & (F.col("l.bits") == F.col("r.bits"))
                & (F.col("l.sblk") == F.col("r.sblk"))
                & (F.col("l.sbits") == F.col("r.sbits"))
                & (F.col("l._id") < F.col("r._id")),
            )
            .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        )
        pairs = band_pairs.union(star).distinct()
        # eager-materialize the small pair list, then release the barrier —
        # repeated invocations must not accumulate block-store state.
        return pairs.localCheckpoint(eager=True)
    finally:
        s.unpersist()
        groups.unpersist()


def simhash_bucket_stats(
    sim: DataFrame, id_col: str, blocks: int = 4, max_bucket_size: int = 64
) -> dict:
    """Truncation observability for ``simhash_candidates`` — distribution of
    rep-level block-bucket sizes and what the cap costs (mirrors
    ``minhash_bucket_stats``). Loss is accounted at the REFINED level:
    over-cap outer buckets are re-keyed on sub-slices of the remaining
    bits (guarantee-preserving, see ``simhash_candidates``), so the only
    true loss is sampling inside refined sub-buckets that are STILL over
    cap — ``candidate_pairs_dropped`` is the conservative C(n,2)−C(cap,2)
    arithmetic over those, and ``est_in_bucket_pair_recall`` divides by
    the outer-level in-bucket pair total (the pair set the un-capped
    block join would have examined)."""
    s, groups = _simhash_groups(sim, id_col)
    try:
        parts = _simhash_blocks(groups, blocks, keep_sim=True)
        sizes = parts.groupBy("blk", "bits").agg(F.count(F.lit(1)).alias("_n"))
        cap_pairs = max_bucket_size * (max_bucket_size - 1) / 2
        row = sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("_n").alias("max_bucket"),
            F.expr("percentile_approx(_n, 0.99)").alias("p99_bucket"),
            F.sum(F.when(F.col("_n") > max_bucket_size, 1).otherwise(0)).alias(
                "buckets_capped"
            ),
            F.sum(F.col("_n") * (F.col("_n") - 1) / 2).alias("_total_pairs"),
        ).first()
        # refined-level residual loss: only sub-buckets still over cap lose
        # pairs (to the deterministic sample); everything else is exact.
        # A pair can sit in up to ``blocks`` over-cap sub-buckets of the
        # same outer bucket, so summing per-sub-bucket drops overcounts —
        # bound each outer bucket's loss by its own sampled-level maximum
        # C(n,2) − C(cap,2) (the sampled survivors are never lost).
        # Healthy corpus (no over-cap buckets): the loss is identically
        # zero — skip the refine re-key and its aggregations entirely.
        if int(row["buckets_capped"] or 0) == 0:
            biggest = groups.agg(F.max("_m").alias("m")).first()["m"]
            return {
                "n_buckets": int(row["n_buckets"] or 0),
                "max_bucket": int(row["max_bucket"] or 0),
                "p99_bucket": int(row["p99_bucket"] or 0),
                "buckets_capped": 0,
                "refined_buckets_capped": 0,
                "candidate_pairs_dropped": 0,
                "est_in_bucket_pair_recall": 1.0,
                "max_identical_simhash_group": int(biggest or 0),
            }
        over = parts.join(
            sizes.where(F.col("_n") > max_bucket_size),
            on=["blk", "bits"], how="inner",
        ).drop("_n")
        per_outer = (
            _simhash_refine(over, blocks)
            .groupBy("blk", "bits", "sblk", "sbits")
            .agg(F.count(F.lit(1)).alias("_rn"))
            .groupBy("blk", "bits")
            .agg(
                F.sum(
                    F.when(F.col("_rn") > max_bucket_size, 1).otherwise(0)
                ).alias("_subs_capped"),
                F.sum(
                    F.when(
                        F.col("_rn") > max_bucket_size,
                        F.col("_rn") * (F.col("_rn") - 1) / 2 - F.lit(cap_pairs),
                    ).otherwise(0)
                ).alias("_sub_drop"),
            )
            .join(sizes, on=["blk", "bits"], how="inner")
        )
        rrow = per_outer.agg(
            F.sum("_subs_capped").alias("refined_buckets_capped"),
            F.sum(
                F.least(
                    F.col("_sub_drop"),
                    F.col("_n") * (F.col("_n") - 1) / 2 - F.lit(cap_pairs),
                )
            ).alias("dropped"),
        ).first()
        biggest = groups.agg(F.max("_m").alias("m")).first()["m"]
        total_pairs = float(row["_total_pairs"] or 0)
        dropped = float(rrow["dropped"] or 0)
        recall = 1.0 if total_pairs == 0 else (total_pairs - dropped) / total_pairs
        return {
            "n_buckets": int(row["n_buckets"] or 0),
            "max_bucket": int(row["max_bucket"] or 0),
            "p99_bucket": int(row["p99_bucket"] or 0),
            "buckets_capped": int(row["buckets_capped"] or 0),
            "refined_buckets_capped": int(rrow["refined_buckets_capped"] or 0),
            "candidate_pairs_dropped": int(dropped),
            # lower bound: ignores cross-block/cross-slice rescue of
            # pairs sampled out of a doubly-over-cap sub-bucket
            "est_in_bucket_pair_recall": round(recall, 4),
            "max_identical_simhash_group": int(biggest or 0),
        }
    finally:
        s.unpersist()
        groups.unpersist()


# ------------------------------------------------------- embedding cosine


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_planes: int = 12,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Scale path: random-hyperplane LSH bucket (num_planes sign bits, seeded
    deterministic planes via xxhash of the dimension index — no driver
    state), verify cosine only within buckets. Pairs (a<b, cosine).
    Identical vectors collapse to one representative (star pairs keep the
    cluster), and cells larger than ``max_bucket_size`` distinct vectors
    are dropped pre-join — truncation observable via
    ``embedding_bucket_stats``, never silent."""
    from .similarity import _plane_component

    # deterministic pseudo-gaussian-ish plane components in [-1,1]; the
    # factory avoids the two-parameter-lambda index-shadowing trap (see
    # similarity._plane_component)
    dim_planes = F.array(
        *[
            F.transform(
                F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1),
                _plane_component(f"plane{p}"),
            )
            for p in range(num_planes)
        ]
    )
    sigs = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.aggregate(
            F.transform(
                dim_planes,
                lambda plane, i: F.when(_dot(plane, F.col(vec_col)) > 0, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, bit: acc * 2 + bit,
        ).alias("_bucket"),
    )
    from pyspark import StorageLevel

    # barrier: the hyperplane-signature expression (num_planes dot products
    # per row) must not be inlined into both self-join sides.
    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    groups = (
        sigs.groupBy("_v")
        .agg(
            F.min("_id").alias("_rid"),
            F.first("_bucket").alias("_bucket"),
            F.count(F.lit(1)).alias("_m"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # Mega-bucket defense (mirrors minhash/simhash): byte-identical
        # embeddings (zero vectors, re-encoded duplicates) collapse to one
        # representative; star pairs rep→member keep the cluster connected
        # at O(m) cost with the member's true cosine-to-rep (vectors are
        # identical, so cosine(v,v) — 1.0, or NULL for a zero vector, which
        # the threshold then drops, exactly as the uncollapsed join would).
        star = (
            sigs.join(groups.select("_v", "_rid", "_m"), on="_v")
            .where((F.col("_m") > 1) & (F.col("_id") != F.col("_rid")))
            .select(
                F.col("_rid").alias("a"),
                F.col("_id").alias("b"),
                cosine(F.col("_v"), F.col("_v")).alias("cosine"),
            )
        )
        reps = groups.select(F.col("_rid").alias("_id"), "_v", "_bucket")
        sizes = reps.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
        capped = reps.join(
            sizes.where(F.col("_n") <= max_bucket_size), on="_bucket", how="inner"
        ).drop("_n")
        l, r = capped.alias("l"), capped.alias("r")
        pairs = l.join(
            r,
            (F.col("l._bucket") == F.col("r._bucket")) & (F.col("l._id") < F.col("r._id")),
        ).select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            cosine(F.col("l._v"), F.col("r._v")).alias("cosine"),
        )
        out = pairs.union(star).where(F.col("cosine") >= threshold)
        # eager-materialize the (thresholded, small) pair list, release the
        # barrier — see simhash_candidates note.
        return out.localCheckpoint(eager=True)
    finally:
        sigs.unpersist()
        groups.unpersist()


def embedding_bucket_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 12,
    max_bucket_size: int = 256,
) -> dict:
    """Truncation observability for ``embedding_near_dups`` — distribution
    of rep-level hyperplane-cell sizes and what the cap would drop."""
    from .similarity import _plane_component

    dim_planes = F.array(
        *[
            F.transform(
                F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1),
                _plane_component(f"plane{p}"),
            )
            for p in range(num_planes)
        ]
    )
    sigs = df.select(
        F.col(vec_col).alias("_v"),
        F.aggregate(
            F.transform(
                dim_planes,
                lambda plane, i: F.when(_dot(plane, F.col(vec_col)) > 0, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, bit: acc * 2 + bit,
        ).alias("_bucket"),
    )
    groups = sigs.groupBy("_v").agg(
        F.first("_bucket").alias("_bucket"), F.count(F.lit(1)).alias("_m")
    )
    sizes = groups.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_n").alias("max_bucket"),
        F.expr("percentile_approx(_n, 0.99)").alias("p99_bucket"),
        F.sum(F.when(F.col("_n") > max_bucket_size, 1).otherwise(0)).alias(
            "buckets_dropped"
        ),
        F.sum(
            F.when(
                F.col("_n") > max_bucket_size,
                F.col("_n") * (F.col("_n") - 1) / 2,
            ).otherwise(0)
        ).alias("candidate_pairs_dropped"),
    ).first()
    biggest = groups.agg(F.max("_m").alias("m")).first()["m"]
    return {
        "n_buckets": int(row["n_buckets"] or 0),
        "max_bucket": int(row["max_bucket"] or 0),
        "p99_bucket": int(row["p99_bucket"] or 0),
        "buckets_dropped": int(row["buckets_dropped"] or 0),
        "candidate_pairs_dropped": int(row["candidate_pairs_dropped"] or 0),
        "max_identical_vector_group": int(biggest or 0),
    }


def embedding_near_dups_brute(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Exact all-pairs baseline (test-scale oracle for the LSH path)."""
    l = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    r = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        l.join(r, F.col("a") < F.col("b"))
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
