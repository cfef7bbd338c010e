"""Document deduplication family for web-scale training-data pipelines.

Five strategies, each with a distinct cost/recall point. All hot paths are
JVM-side built-ins (higher-order array functions, xxhash64) — the only
pandas UDF is SimHash's 64-lane bit-majority, which is genuinely awkward as
a column expression.

Scale notes (the 100 TB story):

- ``exact_*``: one shuffle on a 64-hex key (sha2 of the normalized text),
  partial-aggregated map-side. Hash first, never shuffle document bodies
  when only the hash is needed.
- ``minhash_lsh_*``: signatures and band buckets are computed in a single
  projection (no shuffle); the only shuffles are the band-bucket self-join
  (keys are (band_idx, band_hash) — high cardinality, naturally balanced)
  and the final candidate verification. Candidate pairs are verified with
  exact shingle Jaccard before anything is dropped, so banding never causes
  false merges. Classic MMDS construction.
- ``simhash_*``: 64-bit signature; near-dup candidates block on 4×16-bit
  chunks (any pair within Hamming distance 3 shares ≥1 exact chunk —
  pigeonhole), then verified by true Hamming distance.
- ``embedding_cosine_pairs``: LSH-free quadratic verify within blocks; for
  the full ANN path see ``operators/similarity.py``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# exact dedup (hash groupBy)
# ---------------------------------------------------------------------------


# canonical normal form + F1 fingerprint live in functions/ — one definition
from data_pipelines_spark.functions.hashing import content_hash
from data_pipelines_spark.functions.normalize import normalized_text  # noqa: F401 (re-export)


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups: content hash → count + member ids (count > 1).

    The A4 'HAVING count(*) > 1' pattern (reference
    ``boxing/database/validators/queries.py:86-107``) applied to content.
    """
    h = content_hash(normalized_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct content (the min id — deterministic)."""
    h = content_hash(normalized_text(F.col(text_col)))
    keep = (
        df.select(F.col(id_col).alias("_id"), h.alias("_h"))
        .groupBy("_h")
        .agg(F.min("_id").alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, entirely JVM-side.

    words = split(normalized text); shingle i = words[i..i+n); built with
    ``transform(sequence(...))`` so no Python touches the tokens.
    Documents shorter than n words yield the whole text as one shingle.
    """
    words = F.split(normalized_text(col), " ")
    k = F.size(words) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.array_distinct(grams)


def _affine_coeffs(num_hashes: int, seed: int):
    import numpy as np

    rng = np.random.RandomState(seed)
    # odd multipliers → bijections of Z/2^64 (classic one-hash k-permutation)
    a = (rng.randint(1, 2**62, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    return a, b


def minhash_signature(shingles: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature: JVM base hashes + Arrow-vectorized lane mins.

    The per-shingle 64-bit base hash runs JVM-side (``xxhash64`` inside the
    same whole-stage-codegen projection that built the shingles — string
    hashing never touches Python), and only the ``num_hashes`` affine
    permutations ``a_i*h + b_i mod 2^64`` + per-lane min run in the pandas
    UDF, as one numpy broadcast over the Arrow int64 batch. Linear work, no
    giant codegen, wraps-by-design in uint64; deterministic across replays.
    """
    import numpy as np

    max_long = (1 << 63) - 1

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        a, b = _affine_coeffs(num_hashes, seed)

        def one(hs):
            if hs is None or len(hs) == 0:
                return [max_long] * num_hashes
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)  # C-cast wrap
            lanes = (h[:, None] * a[None, :] + b[None, :]).min(axis=0)
            return lanes.astype(np.int64).tolist()

        return hashes.map(one)

    return sig_udf(F.transform(shingles, lambda s: F.xxhash64(s)))


def lsh_bands(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """Band the signature: array of (band_idx, band_hash) structs."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(signature, b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(num_bands)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    Returns distinct (a, b) with a < b. One pass computes shingles→signature→
    bands (signature UDF runs exactly once per doc — no self-join recompute);
    collisions are found by grouping on (band, bucket) and expanding each
    group's id list to pairs with JVM higher-order functions. Group sizes are
    bounded by ``max_bucket``: a bucket larger than that is a boilerplate
    cluster, so only the id-sorted adjacent chain is emitted instead of the
    quadratic pair set (keeps the worst-case output linear and the chain
    connects the bucket as one candidate group — note a downstream exact
    verifier may split such a chain; see ``minhash_lsh_dedup_pairs``).
    """
    from data_pipelines_spark.operators.partitioning import ensure_parallelism

    if num_bands < 1 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"num_bands ({num_bands}) — leftover lanes would silently change "
            "the recall curve, and rows_per_band=0 degenerates to all-collide"
        )
    rows_per_band = num_hashes // num_bands
    # repartition BEFORE deriving shingles: a projection ahead of the
    # exchange would be computed on the (possibly single) input partition
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", word_shingles(F.col(text_col), shingle_n).alias("sh"))
    sig = minhash_signature(F.col("sh"), num_hashes, seed)
    banded = (
        src.select("id", sig.alias("sig"))
        .select("id", F.explode(lsh_bands(F.col("sig"), num_bands, rows_per_band)).alias("bb"))
        .select("id", "bb.band", "bb.bucket")
    )
    return bucket_pairs(banded, max_bucket=max_bucket)


def bucket_pairs(banded: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Expand an (id, band, bucket) frame to distinct candidate pairs (a < b).

    Shared by the whole-corpus candidates path and the incremental index's
    within-batch pass. Buckets larger than ``max_bucket`` emit the id-sorted
    adjacent chain instead of the quadratic pair set (see
    :func:`minhash_lsh_candidates`).
    """
    groups = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    ids = F.col("ids")
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    chain_pairs = F.transform(
        F.slice(ids, 1, F.size(ids) - 1),
        lambda x, i: F.struct(x.alias("a"), F.element_at(ids, i + 2).alias("b")),
    )
    pairs = F.when(F.size(ids) <= max_bucket, all_pairs).otherwise(chain_pairs)
    return (
        groups.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def bucketed_vector_pairs(df: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Expand an (id, v, bucket) frame to candidate pairs carrying both
    vectors inline: (a_id, a_v, b_id, b_v) with a_id < b_id.

    The vector analog of :func:`bucket_pairs`, shared by
    :func:`embedding_near_dup_lsh` and the incremental
    ``EmbeddingIndex``'s within-batch pass — with the same ``max_bucket``
    degenerate-bucket guard, enforced BEFORE any aggregation: buckets up to
    ``max_bucket`` members expand all pairs via group-then-expand (the
    aggregated member array is bounded at ``max_bucket`` vectors), while
    larger buckets emit the id-sorted adjacent chain from a window ``lag``
    — no aggregated row ever holds the hot bucket (a ``collect_set`` of a
    degenerate sign-LSH bucket is |bucket|·dim doubles in ONE row, an
    executor OOM at scale; with only 2^n_planes buckets a templated corpus
    concentrates mass in few buckets), pair count stays linear, and the
    oversized partition streams through Spark's spillable window sort.
    Same recall caveat as :func:`bucket_pairs`: a chain pair that fails
    downstream verification can hide a transitive true pair, so raise
    ``max_bucket`` when exact recall inside degenerate clusters matters.

    One exchange total: the window's hash partitioning on ``bucket`` also
    satisfies the small-bucket ``groupBy``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sized = df.select(
        "bucket",
        "id",
        "v",
        F.count(F.lit(1)).over(wall).alias("_n"),
        F.lag("id").over(w).alias("_pid"),
        F.lag("v").over(w).alias("_pv"),
    )
    groups = (
        sized.where((F.col("_n") > 1) & (F.col("_n") <= max_bucket))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_set(F.struct("id", "v"))).alias("ms"))
    )
    ms = F.col("ms")
    expanded = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(
                    x["id"].alias("a_id"),
                    x["v"].alias("a_v"),
                    y["id"].alias("b_id"),
                    y["v"].alias("b_v"),
                ),
            ),
        )
    )
    all_pairs = groups.select(F.explode(expanded).alias("p")).select(
        "p.a_id", "p.a_v", "p.b_id", "p.b_v"
    )
    chain = sized.where(
        (F.col("_n") > max_bucket) & F.col("_pid").isNotNull()
    ).select(
        F.col("_pid").alias("a_id"),
        F.col("_pv").alias("a_v"),
        F.col("id").alias("b_id"),
        F.col("v").alias("b_v"),
    )
    return all_pairs.unionByName(chain)


def shingle_jaccard(df: DataFrame, left_text: str, right_text: str, n: int = 3) -> Column:
    """Exact Jaccard over word-shingle sets — the verification predicate."""
    ls, rs = word_shingles(F.col(left_text), n), word_shingles(F.col(right_text), n)
    inter = F.size(F.array_intersect(ls, rs))
    union = F.size(F.array_union(ls, rs))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by true Jaccard.

    Output: (a, b, jaccard) with a < b and jaccard ≥ threshold. Because every
    candidate is re-verified exactly, the result has no false positives;
    recall is bounded by the band/row configuration AND, inside buckets
    larger than ``max_bucket``, by the linear chain fallback — a chain pair
    that fails verification can hide a transitive true pair, so raise
    ``max_bucket`` (or post-process chains) when exact recall inside
    boilerplate clusters matters.

    The verify stage first semi-joins the corpus down to the docs that
    appear in ANY candidate pair, computes each one's shingle array once,
    and compares prebuilt arrays with ``array_intersect``/``array_union`` —
    shingling is O(min(docs, 2·pairs)) instead of O(pairs) re-shingling
    per candidate, and the pair join ships shingle arrays only for docs it
    actually needs (never the full corpus, never raw text per pair).
    """
    cands = minhash_lsh_candidates(
        df, text_col, id_col, shingle_n, num_hashes, num_bands, seed,
        max_bucket=max_bucket,
    )
    # the verify plan references the candidate set three times (both sides
    # of the in-pairs id set + the pair join); without a persist Spark
    # re-runs the whole signature pipeline per reference (no automatic
    # subtree reuse across joins). Candidates are tiny — (a, b) id pairs,
    # output-bounded by max_bucket — so caching them is O(pairs) memory;
    # the ContextCleaner unpersists when the result DataFrame is dropped.
    cands = cands.persist()
    in_pairs = (
        cands.select(F.col("a").alias("id"))
        .union(cands.select(F.col("b").alias("id")))
        .distinct()
    )
    docs = (
        df.select(F.col(id_col).alias("id"), F.col(text_col))
        .join(in_pairs, "id", "left_semi")
        .select("id", word_shingles(F.col(text_col), shingle_n).alias("sh"))
    )
    joined = (
        cands.join(docs.withColumnRenamed("sh", "sha"), cands.a == docs.id)
        .drop("id")
        .join(docs.withColumnRenamed("sh", "shb"), cands.b == docs.id)
        .drop("id")
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size(F.array_union(F.col("sha"), F.col("shb")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard")
    return joined.select("a", "b", jac).where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    threshold: float = 0.5,
    shingle_n: int = 2,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard within blocks (the SQL-oracle-able
    baseline the LSH path approximates). Quadratic per block — use only when
    a natural blocking key (domain, source, language) bounds block size.
    """
    docs = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = (inter / union).alias("jaccard")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"), jac)
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_SCHEMA = T.LongType()


@F.pandas_udf(_SIMHASH_SCHEMA)
def _simhash64(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash of a token array (vectorized, numpy bit-majority)."""
    import numpy as np

    def one(toks) -> int:
        if toks is None or len(toks) == 0:
            return 0
        hs = np.array(
            [int.from_bytes(__import__("hashlib").blake2b(t.encode(), digest_size=8).digest(), "big") for t in toks],
            dtype=np.uint64,
        )
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
        maj = (bits.sum(axis=0) * 2 > len(hs)).astype(np.uint64)
        return int((maj << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64).astype(np.int64))

    return tokens.map(one)


@F.pandas_udf(_SIMHASH_SCHEMA)
def _simhash60_md5(tokens: pd.Series) -> pd.Series:
    """60-bit SimHash over md5 token hashes (first 15 hex digits).

    The oracle-able variant: both md5 and the 15-hex-digit→integer parse are
    natively reproducible in DuckDB SQL (``('0x'||substr(md5(t),1,15))::
    UBIGINT``), so the full signature — per-bit majority included — can be
    recomputed by the correctness oracle. 60 bits keep every value positive
    in a signed long (no sign-extension mismatches across engines).
    Majority rule: bit b set iff strictly more than half the token hashes
    have bit b set (same rule as the 64-bit blake2b variant).
    """
    import hashlib

    import numpy as np

    def one(toks) -> int:
        if toks is None or len(toks) == 0:
            return 0
        hs = np.array(
            [int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) for t in toks],
            dtype=np.uint64,
        )
        bits = ((hs[:, None] >> np.arange(60, dtype=np.uint64)) & 1).astype(np.int64)
        maj = (bits.sum(axis=0) * 2 > len(hs)).astype(np.uint64)
        return int((maj << np.arange(60, dtype=np.uint64)).sum(dtype=np.uint64))

    return tokens.map(one)


#: per-variant (signature UDF, total bits) — both split into 4 chunks for
#: the pigeonhole blocking (Hamming ≤ 3 ⇒ ≥1 identical chunk)
_SIMHASH_VARIANTS = {"blake2b": (_simhash64, 64), "md5": (_simhash60_md5, 60)}


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_fn: str = "blake2b",
) -> DataFrame:
    """Add a ``simhash`` column (signed long; 64-bit blake2b by default,
    60-bit md5 for SQL-oracle reproducibility)."""
    from data_pipelines_spark.operators.partitioning import ensure_parallelism

    udf, _bits = _SIMHASH_VARIANTS[hash_fn]
    toks = F.split(normalized_text(F.col(text_col)), " ")
    return ensure_parallelism(df).withColumn("simhash", udf(toks))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "blake2b",
) -> DataFrame:
    """Near-dup pairs by SimHash: block on signature chunks, verify Hamming.

    Pigeonhole: distance ≤ 3 over 4 chunks ⇒ at least one chunk is
    identical, so blocking on chunks finds every such pair — the output is
    EXACTLY the set of pairs within ``max_hamming``, not an approximation
    (which is what makes the md5 variant fully oracle-checkable).
    """
    _udf, n_bits = _SIMHASH_VARIANTS[hash_fn]
    chunk_bits = n_bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    sh = simhash(df, text_col, id_col, hash_fn=hash_fn).select(
        F.col(id_col).alias("id"), "simhash"
    )
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit(chunk_mask))
                .alias("val"),
            )
            for c in range(4)
        ]
    )
    blocked = sh.select("id", "simhash", F.explode(chunks).alias("ch")).select(
        "id", "simhash", "ch.chunk", "ch.val"
    )
    # group-then-expand (no self-join): the UDF computes each simhash once,
    # and pairs are generated from each block's member list JVM-side.
    groups = (
        blocked.groupBy("chunk", "val")
        .agg(F.array_sort(F.collect_set(F.struct("id", "simhash"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    ms = F.col("ms")
    pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(
                    x["id"].alias("a"),
                    y["id"].alias("b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        groups.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# near-dup clustering (the step after pair finding: keep one per cluster)
# ---------------------------------------------------------------------------


def near_dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over verified dup pairs → (id, cluster) with
    cluster = the smallest member id (the canonical document).

    Min-label propagation WITH pointer jumping (label doubling): every node
    starts labeled with itself; each round a node first adopts the minimum
    label among itself and its neighbors (the *hook*), then shortcuts its
    label through the label's own label — ``cluster ← label(cluster)`` (the
    *jump*). The jump roughly doubles the distance a label travels per
    round, so convergence needs O(log diameter) rounds, not O(diameter):
    a 1M-link chain (the pathology the ``max_bucket`` fallback in
    :func:`minhash_lsh_candidates` manufactures from boilerplate buckets)
    converges in ~20 rounds instead of 1M. Labels only decrease and every
    label is a member node id, so the fixpoint is the per-component min.

    Fails loud: raises ``RuntimeError`` if labels still changed at
    ``max_iter`` — silently returning half-propagated labels would make
    :func:`dedup_keep_canonical` keep multiple "canonical" copies of one
    cluster with no warning. Each round is three bounded shuffles (edge
    join + min aggregation + the jump self-join) over the PAIR graph only —
    corpus size never enters. Labels are eagerly localCheckpoint'ed per
    round so the loop's lineage stays flat (the jump's double self-reference
    would otherwise double the logical plan every round).
    """
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist()
    )
    # eager localCheckpoint per round, NOT persist: the jump references the
    # round's frame twice, so lineage would DOUBLE per round (persist caches
    # data but keeps the full logical plan — a 12-round loop built a 2 GiB
    # plan string before this was a checkpoint). Checkpointing truncates the
    # plan to the materialized blocks; each round starts from a flat scan.
    labels_ckpt = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster"))
        .localCheckpoint(eager=True)
    )
    labels = labels_ckpt
    changed = 0
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.src == labels.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("cluster").alias("_nmin"))
            )
            # hook: adopt the min of self and neighbor labels, carrying the
            # round's starting label so convergence is a flag on the row —
            # no old-vs-new join needed. Checkpointed because the jump
            # references it twice (Spark has no automatic plan-subtree
            # reuse across joins — see repo notes).
            hooked = (
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.col("cluster").alias("_prev"),
                    F.least(
                        F.col("cluster"), F.coalesce(F.col("_nmin"), F.col("cluster"))
                    ).alias("cluster"),
                )
                .localCheckpoint(eager=True)
            )
            # jump: cluster ← min(cluster, label(cluster)). Every cluster
            # value is a node id present in `hooked`, so the left join
            # always matches; coalesce guards the degenerate empty side.
            jump_side = hooked.select(
                F.col("id").alias("_jid"), F.col("cluster").alias("_jcl")
            )
            final = F.least(
                F.col("cluster"), F.coalesce(F.col("_jcl"), F.col("cluster"))
            )
            new_labels = (
                hooked.join(jump_side, hooked.cluster == jump_side._jid, "left")
                .select(
                    "id",
                    final.alias("cluster"),
                    (final != F.col("_prev")).alias("_chg"),
                )
                .localCheckpoint(eager=True)
            )
            # convergence probe scans the just-materialized blocks only —
            # no shuffle, no re-join against the previous round
            changed = new_labels.where(F.col("_chg")).limit(1).count()
            hooked.unpersist()
            labels_ckpt.unpersist()
            labels_ckpt = new_labels
            labels = new_labels.select("id", "cluster")
            if changed == 0:
                break
        if changed != 0:
            labels_ckpt.unpersist()
            raise RuntimeError(
                f"near_dup_clusters did not converge within max_iter={max_iter} "
                "rounds — component diameter exceeds 2^max_iter (pathological "
                "pair graph?); raise max_iter rather than consuming "
                "half-propagated cluster labels"
            )
        return labels
    finally:
        edges.unpersist()


def dedup_keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 20
) -> DataFrame:
    """Drop every non-canonical member of each near-dup cluster: the
    corpus-level outcome of the dedup family (anti-join on the non-canonical
    id set — one broadcastable join over the corpus)."""
    clusters = near_dup_clusters(pairs, max_iter=max_iter)
    losers = clusters.where(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# cross-document line dedup (the CCNet/RefinedWeb boilerplate pass)
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Remove every line that occurs (whitespace-trimmed) in ``min_docs``
    or more distinct documents — navigation bars, cookie banners, footers —
    and reassemble each document from its surviving lines in order. The
    line-level dedup pass of CCNet / RefinedWeb-style web-corpus pipelines.

    Plan shape at scale: explode to (doc, pos, line) → count distinct docs
    per 64-bit trimmed-line hash (ONE shuffle on the hash, map-side partial
    agg — document text never rides this exchange, only hashes) → anti-join
    lines against the dup-hash set → order-preserving reassembly (one
    groupBy per doc with an array_sort on (pos, line) structs). Documents
    whose every line was boilerplate are kept with empty text, so row count
    and keys are stable for downstream joins.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lhash", F.xxhash64(F.trim(F.col("line"))))
    dup_hashes = (
        lines.groupBy("lhash")
        .agg(F.count_distinct("id").alias("ndocs"))
        .where(F.col("ndocs") >= min_docs)
        .select("lhash")
    )
    kept = lines.join(dup_hashes, "lhash", "left_anti")
    reassembled = (
        kept.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ls"))
        .select(
            "id",
            F.concat_ws(
                "\n", F.transform(F.col("ls"), lambda s: s["line"])
            ).alias("_clean"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_clean"), F.lit("")).alias(text_col),
        )
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two float arrays, JVM-side (zip_with + aggregate)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_near_dup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding near-dups at scale: sign-LSH bucket blocking + exact verify.

    The scale path ``embedding_near_dup_pairs`` documents: the block key is
    the seed-deterministic hyperplane bucket (JVM-side sign tests, no
    Python), so the quadratic verify runs only inside buckets — expected
    bucket size shrinks ~2^n_planes-fold. High-cosine pairs land in the same
    bucket with probability (1 − θ/π)^n_planes (θ = angle at the threshold);
    every candidate is verified with exact cosine, so no false positives.
    Pair expansion is :func:`bucketed_vector_pairs`: group-then-expand for
    buckets up to ``max_bucket`` members, id-sorted chain fallback above it
    (linear worst case, no hot-bucket aggregated row — see its docstring
    for the recall caveat inside degenerate clusters).
    """
    from data_pipelines_spark.operators.partitioning import ensure_parallelism
    from data_pipelines_spark.operators.similarity import (
        _hyperplanes,
        random_hyperplane_bucket,
    )

    v = F.col(vec_col).cast("array<double>")
    if dim is None:
        # one-row probe for the vector dimension (pass ``dim`` to skip the
        # driver job); empty/all-NULL input yields an empty pair set
        probe = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        if probe is None:
            spark = df.sparkSession
            return spark.createDataFrame(
                [], f"a {df.schema[id_col].dataType.simpleString()}, "
                    f"b {df.schema[id_col].dataType.simpleString()}, cosine double"
            )
        dim = len(probe[0])
    planes = _hyperplanes(dim, n_planes, seed)
    bucketed = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        random_hyperplane_bucket(v, planes).alias("bucket"),
    )
    pairs = bucketed_vector_pairs(bucketed, max_bucket=max_bucket)
    return (
        pairs.select(
            F.col("a_id").alias("a"),
            F.col("b_id").alias("b"),
            cosine_similarity(F.col("a_v"), F.col("b_v")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dups within blocks (labels / LSH buckets).

    The blocked-quadratic baseline; at scale the block key comes from
    sign-LSH hyperplane buckets — see :func:`embedding_near_dup_lsh`.
    """
    docs = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    cos = cosine_similarity(F.col("a.v"), F.col("b.v")).alias("cosine")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"), cos)
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# substring-level exact dedup (duplicate n-gram spans)
# ---------------------------------------------------------------------------


def _doc_ngrams(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, pos, gh): 64-bit hash of every token ``n``-gram with its 0-based
    start position. Docs shorter than ``n`` tokens contribute no rows
    (posexplode of an empty array). Tokenisation is whitespace split of the
    trimmed text — the same contract as :func:`line_dedup`'s line split."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    )
    grams = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return toks.select("id", F.posexplode(grams).alias("pos", "gh"))


def dup_span_intervals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level exact dedup, the corpus pass of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): find, per
    document, the merged token spans ``[span_start, span_end)`` covered by
    token ``n``-grams that occur at least ``min_count`` times in the WHOLE
    corpus (within-doc repeats count). Unlike document-level MinHash/SimHash
    (which keep or drop whole docs) this locates the duplicated *passages* —
    boilerplate paragraphs, licence blocks, syndicated snippets — so they can
    be cut while the unique remainder survives.

    Plan shape at scale (the suffix-array of the paper is replaced by the
    shuffle-native equivalent): tokenize once → explode (pos, gramhash) —
    only 64-bit hashes ride the exchanges, never text → ONE groupBy(gh)
    count with map-side partial agg → semi-join grams against the frequent
    set (shuffle hash join on gh; hot boilerplate grams are bounded by the
    partial agg on the count side and plain fan-out on the probe side) →
    per-doc interval merge with ONE window over (id, pos) (running max of
    interval end = classic gaps-and-islands; a doc's grams land in one
    partition of the id-hash exchange). No driver-side state, no collect;
    output is O(merged spans), not O(grams).

    Returns (id_col, span_start, span_end) — span_end exclusive.
    """
    from pyspark.sql import Window

    grams = _doc_ngrams(df, text_col, id_col, n)
    frequent = (
        grams.groupBy("gh").agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gh")
    )
    dup = grams.join(frequent, "gh", "left_semi").select(
        "id", "pos", (F.col("pos") + n).alias("end")
    )
    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.select(
        "id",
        "pos",
        "end",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
        ).otherwise(0).alias("new_island"),
    )
    island = F.sum("new_island").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.select("id", "pos", "end", island.alias("island"))
        .groupBy("id", "island")
        .agg(F.min("pos").alias("span_start"), F.max("end").alias("span_end"))
        .select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("int"),
            F.col("span_end").cast("int"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Cut every duplicated span found by :func:`dup_span_intervals` out of
    the text and reassemble the survivors in order (single-space joined, the
    tokenizer's normal form). Row count and ids are stable — a doc that was
    pure boilerplate comes back with empty text, like :func:`line_dedup`.

    The cut is a per-row higher-order filter over (token, index) against the
    doc's merged-span array (collected per doc — bounded by spans-per-doc,
    not corpus size), so no second pass over corpus text and no UDF.
    """
    spans = (
        dup_span_intervals(df, text_col, id_col, n, min_count)
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("spans")
        )
    )
    toks = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    )
    joined = toks.join(spans, id_col, "left")
    kept = F.filter(
        F.transform("toks", lambda t, i: F.struct(i.alias("i"), t.alias("t"))),
        lambda x: ~F.exists(
            F.coalesce(
                F.col("spans"),
                F.array().cast("array<struct<span_start:int,span_end:int>>"),
            ),
            lambda s: (x["i"] >= s["span_start"]) & (x["i"] < s["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", F.transform(kept, lambda x: x["t"])).alias(text_col),
    )
